"""Process-level plumbing shared by every workload: the work directory, the
Spark session, process accounting from ``/proc`` and shutdown.

Everything a run writes (Spark local dirs, temp files, event logs, generated
inputs, stream checkpoints) lives under ``<checkout>/.perfbench_work`` and is
removed when the run ends.
"""
from __future__ import annotations

import os
import shutil
import statistics
import time

CORES = 4
# Heap for the single local-mode JVM.  The largest run (2M persisted turns
# plus partial blobs) peaks near 1.9 GB resident; 4g leaves headroom
# without claiming a large share of a 15 GB host shared with others.
DRIVER_MEMORY = "4g"
# Smaller Arrow batches keep the kernels' per-batch temporaries cache-sized
# (the same value bench.py uses for its build).
ARROW_BATCH = 16384

_TICK = os.sysconf("SC_CLK_TCK")


def p75(values) -> float:
    """75th percentile, interpolating between closest ranks."""
    xs = list(values)
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=4, method="inclusive")[2])


def median(values) -> float:
    return float(statistics.median(values))


class Workdir:
    """A per-run directory inside the checkout, removed on close."""

    def __init__(self, root: str, name: str) -> None:
        self.path = os.path.join(root, ".perfbench_work",
                                 f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run still uses it, or it is already gone


def configure_env(root: str, work: Workdir) -> None:
    """Process environment the JVM and the Python workers inherit.  Must run
    before the first SparkSession is created."""
    from sparksketch import workerenv
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("local")
    # every JVM (the spark-submit launcher too) keeps its temp and perf
    # files in the run's directory
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    pp = os.environ.get("PYTHONPATH", "")
    if root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    workerenv.configure(os.environ)


def start_session(work: Workdir, event_log: bool):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(CORES))
         .config("spark.default.parallelism", str(CORES))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                 str(ARROW_BATCH))
         .config("spark.buffer.size", str(1 << 20))
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.task.maxDirectResultSize", "64m")
         .config("spark.driver.maxResultSize", "2g")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", work.sub("local"))
         .config("spark.sql.warehouse.dir", work.sub("warehouse")))
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + work.sub("events"))
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, procs: "Procs | None") -> None:
    """Stop Spark, then the JVM, then wait for every process it started."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on EOF
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    if procs is not None:
        procs.wait_gone(timeout=30)


# ---------------------------------------------------------------------------
# /proc accounting
# ---------------------------------------------------------------------------

def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, own cpu ticks, reaped-children cpu ticks)."""
    s = _read(f"/proc/{pid}/stat")
    if s is None:
        return None
    comm = s[s.index("(") + 1:s.rindex(")")]
    f = s[s.rindex(")") + 2:].split()
    return comm, int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def _hwm_kb(pid: int) -> int:
    s = _read(f"/proc/{pid}/status") or ""
    for line in s.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class Procs:
    """The driver process, its JVM and the JVM's Python workers."""

    def __init__(self) -> None:
        self.driver = os.getpid()
        self.peak_kb: dict[int, int] = {}
        self.jvm_peak_kb = 0
        self.seen: set[int] = set()
        # driver CPU spent reading /proc here; it grows with the number of
        # processes on the host, so CPU figures leave it out
        self.scan_cpu = 0.0

    def _tree(self) -> tuple[int | None, list[int]]:
        children: dict[int, list[int]] = {}
        comms: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    comms[int(d)] = st[0]
                    children.setdefault(st[1], []).append(int(d))
        jvm = next((p for p in children.get(self.driver, [])
                    if comms.get(p) == "java"), None)
        workers, stack = [], list(children.get(jvm, [])) if jvm else []
        while stack:
            p = stack.pop()
            if comms.get(p, "").startswith("python"):
                workers.append(p)
            stack.extend(children.get(p, []))
        return jvm, workers

    def sample(self) -> None:
        """Record each process's peak RSS so far."""
        c0 = time.process_time()
        jvm, workers = self._tree()
        for p in [self.driver, *workers]:
            self.peak_kb[p] = max(self.peak_kb.get(p, 0), _hwm_kb(p))
        self.seen.update(workers)
        if jvm is not None:
            self.seen.add(jvm)
            self.jvm_peak_kb = max(self.jvm_peak_kb, _hwm_kb(jvm))
        self.scan_cpu += time.process_time() - c0

    def py_peak_rss_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def cpu_seconds(self) -> tuple[float, float]:
        """(JVM cpu, Python-worker cpu) seconds consumed so far.  Workers that
        have exited are counted through their parent's reaped-children
        time."""
        c0 = time.process_time()
        jvm, workers = self._tree()
        jcpu = 0
        if jvm is not None:
            st = _stat(jvm)
            jcpu = st[2] if st else 0
        wcpu = 0
        for p in workers:
            st = _stat(p)
            if st:
                wcpu += st[2] + st[3]
        self.scan_cpu += time.process_time() - c0
        return jcpu / _TICK, wcpu / _TICK

    def wait_gone(self, timeout: float) -> None:
        """Wait for the JVM and its workers to exit; kill any left over."""
        deadline = time.monotonic() + timeout
        while (any(_alive(p) for p in self.seen)
               and time.monotonic() < deadline):
            time.sleep(0.05)
        for p in self.seen:
            if _alive(p):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass


def _alive(pid: int) -> bool:
    s = _read(f"/proc/{pid}/stat")
    if s is None:
        return False
    return s[s.rindex(")") + 2] != "Z"


class Ctx:
    """What a workload gets: the session, its inputs' seed, the run length,
    whether this is the traced run, and the run's instruments."""

    def __init__(self, spark, seed: int, seconds: float, traced: bool,
                 work: Workdir, procs: Procs, t0: float) -> None:
        from .trace import Tags
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.procs = procs
        self.t0 = t0  # monotonic time the run started, before the session
        self.tags = Tags(spark)

    def cpu_mark(self) -> float:
        """CPU seconds used so far by the driver, the JVM and the workers,
        less the driver's own /proc reads."""
        j, w = self.procs.cpu_seconds()
        return j + w + time.process_time() - self.procs.scan_cpu

    def more(self, started: float, unit_times: list[float],
             at_least: int = 1) -> bool:
        """Closed loop: start another unit of work only if one more of the
        mean length still ends within the run time, or fewer than
        ``at_least`` units have run."""
        if len(unit_times) < at_least:
            return True
        mean = sum(unit_times) / len(unit_times)
        return time.monotonic() - started + mean <= self.seconds
