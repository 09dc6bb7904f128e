"""Shared pieces of the benchmark: pinned environment, Spark session,
statistics, memory sampling and the result line."""

from __future__ import annotations

import json
import math
import os
import platform
import subprocess
import sys
import tempfile
import threading
import time

#: driver heap pinned for every run (the program's default is 8g)
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str, event_dir: str | None) -> dict:
    """Pin everything the run depends on to the checkout and this host,
    before the JVM starts. Returns the environment record printed with
    the results."""
    cpus = nproc()
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers are started by the JVM and import photon_spark
    # themselves, so the checkout root must be on their path too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    ]
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir={event_dir}",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
    return {"nproc": cpus, "python": platform.python_version(),
            "java": _java_version(), "driver_mem": DRIVER_MEM}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:]]
    return xs[7], sum(xs)


def _stat(pid: int, tid: int | None = None) -> list[str] | None:
    """Fields of /proc/<pid>[/task/<tid>]/stat after the command name, or
    None once the process or thread has gone."""
    path = f"/proc/{pid}/stat" if tid is None else \
        f"/proc/{pid}/task/{tid}/stat"
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _process_tree() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields of this process and every descendant: the
    driver JVM and its Python workers."""
    me = os.getpid()
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat(int(pid))
            if fields:
                stats[int(pid)] = fields
    tree = {}
    for pid in stats:
        p = pid
        while p and p != me:
            p = int(stats[p][1]) if p in stats else 0
        if p == me:
            tree[pid] = stats[pid]
    return tree


#: JVM threads whose CPU TreeCpu leaves out: the JIT compilers, whose work
#: is a warm-up cost that tapers off while a run measures
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class TreeCpu:
    """CPU seconds (user + system, reaped children included) used by this
    process and its descendants, less the JIT compiler threads. Time the
    hypervisor steals is not counted (the kernel accounts it apart), so on
    a shared host this is steadier than wall time. Calling it reads only
    the processes and threads found by the last ``refresh()``, which keeps
    the reading cheap."""

    def __init__(self):
        self._tick = os.sysconf("SC_CLK_TCK")
        self.pids = [os.getpid()]
        #: (pid, tid) of each JIT thread -> its last CPU ticks read; an
        #: exited thread keeps its last value, which stays in its
        #: process's total
        self.jit: dict[tuple[int, int], int] = {}

    def refresh(self) -> None:
        self.pids = list(_process_tree())
        for pid in self.pids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        comm = f.read().strip()
                except OSError:
                    continue
                if comm in JIT_THREADS:
                    self.jit.setdefault((pid, int(tid)), 0)

    def __call__(self) -> float:
        total = 0
        for pid in self.pids:
            fields = _stat(pid)
            if fields:
                total += sum(int(x) for x in fields[11:15])
        for key in self.jit:
            fields = _stat(*key)
            if fields:
                self.jit[key] = int(fields[11]) + int(fields[12])
            total -= self.jit[key]
        return total / self._tick


def _java_version() -> str:
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    try:
        out = subprocess.run([java if os.path.exists(java) else "java",
                              "-version"], capture_output=True, text=True,
                             timeout=30)
        return out.stderr.splitlines()[0] if out.stderr else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def start_session():
    """Start the SparkSession through the program's own factory.
    Returns (spark, seconds)."""
    t0 = time.perf_counter()
    from photon_spark.session import get_spark
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- stats
def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it,
    never below the median."""
    if n <= 0:
        return 50
    return max(50, math.floor(100.0 * (n - 10) / n))


def tail(values) -> tuple[int, float]:
    q = tail_percentile(len(values))
    return q, percentile(values, q)


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in xs) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------- memory
class RssSampler:
    """Samples the summed resident set of this process and every
    descendant (the driver JVM and its Python workers) and keeps the
    peak."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-rss")
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        stats = _process_tree()
        total = sum(int(f[21]) for f in stats.values()) * self._page
        self.peak_bytes = max(self.peak_bytes, total)

    @property
    def peak_mb(self) -> float:
        self.sample()
        return self.peak_bytes / 2**20


# ---------------------------------------------------------------- result
class Ops:
    """Counts attempted and failed operations. An operation fails when it
    raises or when its output does not match the expected value; either
    way it stays in the count."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.fail(what)
        return ok

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED: {what}")


def emit(ops: Ops, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the one-line JSON result (last line of stdout)."""
    correct = ops.failed == 0 and all(
        math.isfinite(v) for v, _ in metrics.values())
    print(json.dumps({
        "correct": correct,
        "attempted": int(ops.attempted),
        "failed": int(ops.failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
