"""Run-time plumbing shared by the workloads: the Spark session, the call
spans with their job groups, the CPU accounting of the run's processes,
the host-speed probe that turns it into reference CPU seconds, and the
host samplers (RSS, CPU steal)."""

from __future__ import annotations

import glob
import multiprocessing
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def cores() -> int:
    """Spark cores: the CPUs this process may run on, at most 4."""
    return min(4, len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else a quarter of physical RAM capped
    at 3g — the package's own default (24g) exceeds small machines."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(3, kb // (4 * 1024 * 1024)))}g"


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children of every process, and each process's CPU ticks: user and
    system time, its reaped children's included."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue
        pid = int(s.split(" ", 1)[0])
        rest = s.rsplit(")", 1)[1].split()
        children.setdefault(int(rest[1]), []).append(pid)
        # fields 14-17 of proc(5): utime, stime, cutime, cstime
        ticks[pid] = sum(int(x) for x in rest[11:15])
    return children, ticks


def _descendants(root: int, children: dict[int, list[int]] | None = None) -> list[int]:
    if children is None:
        children = _proc_table()[0]
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> tuple[float, float, float]:
    """CPU seconds used so far by the driver JVM ``root``, by the processes
    under it (the Python workers) and by the calling thread (the client).
    Linux charges the time a hypervisor takes from a virtual CPU (steal) to
    no process, so on a shared host this counts the work done, not the wait
    for a CPU."""
    children, ticks = _proc_table()
    workers = sum(ticks.get(p, 0) for p in _descendants(root, children)[1:])
    return ticks.get(root, 0) / CLK_TCK, workers / CLK_TCK, time.thread_time()


def diff(after, before) -> tuple[float, ...]:
    return tuple(a - b for a, b in zip(after, before))


def wait_idle(root: int, limit_s: float = 2.0) -> None:
    """Wait (at most ``limit_s``) until the JVM and the Python workers use
    less than a tenth of a CPU: they keep working for a moment after an
    action returns."""
    end = time.perf_counter() + limit_s
    prev = sum(tree_cpu_s(root)[:2])
    while time.perf_counter() < end:
        time.sleep(0.1)
        cur = sum(tree_cpu_s(root)[:2])
        if cur - prev < 0.015:  # at most one 10 ms tick
            return
        prev = cur


# The unit of the end-to-end metrics, the reference CPU second: a CPU
# second of the reference host, a quiet 4-vCPU x86 VM on which the Python
# kernel takes PYTHON_KERNEL_REF_S and the JVM kernel JVM_KERNEL_REF_S CPU
# seconds (their medians there).
PYTHON_KERNEL_REF_S = 0.085
JVM_KERNEL_REF_S = 0.35


def python_kernel(_=None) -> float:
    """CPU seconds of a fixed pure-Python computation that touches neither
    the program nor Spark: interpreter arithmetic, then a dict and a sort
    over a working set of a few MB, as the Python workers' row loops do."""
    c = time.thread_time()
    h = 0
    for i in range(250_000):
        h = (h * 31 + i) & 0xFFFFFFFF
    table = {(i * 2654435761) % 1_000_003: i for i in range(100_000)}
    sorted(table)
    return time.thread_time() - c


class HostProbe:
    """How fast the host's CPUs run now, for each kind of process the
    program runs.  The Python kernel runs at once in a pool of one process
    per Spark core; the JVM kernel (``Arrays.parallelSort`` of seeded random
    longs, into an array allocated once) runs in the driver JVM on its
    fork-join pool.  Either way the kernel shares every core (and its
    caches and hyper-threads) with the host's other tenants as the
    program's own processes do.  Sample only while the program is idle
    (``wait_idle``): it would also time the program."""

    JVM_WARM = 3  # the JIT compiles the sort over the first calls
    JVM_KERNEL_LONGS = 2_500_000

    def __init__(self, n: int):
        self.n = n
        self.pool = multiprocessing.get_context("fork").Pool(n)
        self.python: list[float] = []
        self.jvm: list[float] = []
        self._jvm = None

    def attach(self, spark) -> None:
        """Start sampling the JVM kernel in ``spark``'s driver JVM."""
        self._jvm = spark.sparkContext._jvm
        self._pid = spark.sparkContext._gateway.proc.pid
        # allocated once, so the kernel leaves the JVM's heap (and its
        # garbage collector) out of its time
        self._src = self._jvm.java.util.Random(42).longs(self.JVM_KERNEL_LONGS).toArray()
        self._dst = self._jvm.java.util.Random(43).longs(self.JVM_KERNEL_LONGS).toArray()
        for _ in range(self.JVM_WARM):
            self._jvm_kernel()

    def _jvm_kernel(self) -> float:
        c = tree_cpu_s(self._pid)[0]
        self._jvm.java.lang.System.arraycopy(self._src, 0, self._dst, 0, self.JVM_KERNEL_LONGS)
        self._jvm.java.util.Arrays.parallelSort(self._dst)
        return tree_cpu_s(self._pid)[0] - c

    def sample(self, times: int = 1) -> None:
        for _ in range(times):
            self.python.append(
                statistics.mean(self.pool.map(python_kernel, range(self.n), 1)))
            if self._jvm is not None:
                self.jvm.append(self._jvm_kernel())

    def reference_cpu_s(self, cpu: tuple[float, float, float]) -> float:
        """Reference CPU seconds of a (JVM, workers, client) CPU split: each
        part times its kind's reference over its kernel's median here."""
        jvm, workers, client = cpu
        py = PYTHON_KERNEL_REF_S / statistics.median(self.python)
        jv = JVM_KERNEL_REF_S / statistics.median(self.jvm)
        return jvm * jv + (workers + client) * py

    def close(self) -> None:
        self.pool.close()
        self.pool.join()


class EventLogThread:
    """CPU time of the driver JVM thread that writes the Spark event log:
    the listener queue ``eventLog`` serializes every event to JSON on its
    own dispatch thread, which runs only when the event log is on."""

    NAME = "spark-listener-group-eventLog"

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        ids = [
            t.getId() for t in jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
            if t.getName() == self.NAME
        ]
        if len(ids) != 1:
            raise RuntimeError(f"expected one {self.NAME} thread, found {len(ids)}")
        self.tid = ids[0]

    def cpu_s(self) -> float:
        return self.mx.getThreadCpuTime(self.tid) / 1e9


class HostSampler(threading.Thread):
    """Samples, every ``period`` seconds, the summed RSS of a process tree
    (the driver JVM and the Python workers it forks) and the CPU steal
    share since the previous sample."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.root: int | None = None
        self.peak_rss_kb = 0
        self.peak_root_rss_kb = 0
        self.max_steal_pct = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        prev = _cpu_times()
        while not self._halt.wait(self.period):
            if self.root is not None:
                rss = [_rss_kb(p) for p in _descendants(self.root)]
                self.peak_rss_kb = max(self.peak_rss_kb, sum(rss))
                self.peak_root_rss_kb = max(self.peak_root_rss_kb, rss[0])
            cur = _cpu_times()
            d = [c - p for c, p in zip(cur, prev)]
            if sum(d) > 0 and len(d) > 7:
                self.max_steal_pct = max(self.max_steal_pct, 100.0 * d[7] / sum(d))
            prev = cur

    def stop(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join(timeout=5)


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans, one per call into a layer.  Each call runs under
    its own Spark job group, so the event log (traced runs only) charges
    every job to the call that launched it."""

    sc: object
    traced: bool
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, group: str):
        """Time the block under job group ``group``; yields the span, whose
        ``wall`` is set when the block ends."""
        self.sc.setJobGroup(group, name)
        sp = Span(name, group, time.perf_counter(), 0.0)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.spans.append(sp)
            self.sc.setJobGroup("", "")

    def walls(self, name: str) -> list[float]:
        return [s.wall for s in self.spans if s.name == name]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return xs[k]


def start_spark(work: str, event_dir: str | None):
    """Start the package's session on at most ``cores()`` local cores with a
    driver heap sized for the machine; all temporary state stays under
    ``work``.  With ``event_dir`` the Spark event log is written there."""
    from tika_xapian_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
