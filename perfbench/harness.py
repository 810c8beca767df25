"""Machinery shared by the workloads: machine sizing, the run directory,
Spark sessions, process-tree CPU and memory, timed regions and layer
spans."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)

#: seconds between samples of the process tree's resident memory
SAMPLE_INTERVAL_S = 0.1

#: times set-up loads the inputs; ``setup_s`` takes the median load
LOADS = 3

#: fewest operations a timed loop measures, however long they take (a
#: third did not make the medians steadier on a shared 4-core host and
#: cost 15% more run time)
MIN_OPS = 2

#: longest path an AF_UNIX socket accepts, minus Spark's
#: "/.<uuid>.sock" file name
_SOCK_DIR_MAX = 107 - 43


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_mb() -> dict[str, float]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                out[key] = int(rest.split()[0]) / 1024.0
    return out


def machine_snapshot() -> dict:
    mem = _meminfo_mb()
    return {"nproc": nproc(),
            "mem_total_mb": round(mem["MemTotal"]),
            "mem_available_mb": round(mem["MemAvailable"]),
            "loadavg": [round(x, 2) for x in os.getloadavg()]}


def jvm_heap_mb() -> int:
    """A JVM heap that fits the workloads and leaves most of RAM to the
    OS, the Python workers and other tenants: 15% of RAM, between 1 and
    2 GiB."""
    return int(min(2048, max(1024, 0.15 * _meminfo_mb()["MemTotal"])))


class RunDir:
    """Scratch directory of one run, inside the checkout.  Spark's local
    dirs, the JVM and Python temp dirs, the warehouse, the event log and
    the generated inputs all live here; the directory is deleted on exit."""

    def __init__(self, root: str):
        self.path = os.path.join(root, "perfbench", ".work", str(os.getpid()))

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def __enter__(self) -> "RunDir":
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["TMPDIR"] = self.sub("tmp")
        tempfile.tempdir = None  # re-read TMPDIR
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:  # another run still uses it
            pass


def _proc_table() -> dict[int, tuple[int, float, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss MB)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        cpu = sum(int(x) for x in fields[11:15]) / _HZ
        out[int(name)] = (int(fields[1]), cpu, int(fields[21]) * _PAGE_MB)
    return out


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:  # exited, or exec in progress
        return ""


def _tree(table: dict, root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, *_) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


class ProcTree:
    """CPU core-seconds of this process and its descendants (the Spark JVM
    and its Python workers), and the peak resident memory of the JVM and
    the Python workers, sampled by a background thread while armed:
    ``peak`` in total, ``peak_jvm`` of the JVM, ``peak_workers`` of the
    workers."""

    def __init__(self):
        self._armed = False
        self._lock = threading.Lock()
        self.reset_peak()
        self._own_cpu = 0.0  # the sampler thread's CPU, not the program's
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            c0 = time.thread_time()
            if self._armed:
                self._sample()
            self._own_cpu += time.thread_time() - c0

    def _sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        tree = [p for p in _tree(table, me) if p != me and p in table]
        exe = {p: _exe(p) for p in tree}
        jvm = py = 0.0
        for p in tree:
            if exe[p].startswith("python"):
                py += table[p][2]
            elif exe[p] == "java" and exe.get(table[p][0]) != "java":
                jvm += table[p][2]
            # anything else is a launcher script or a short-lived command
            # the JVM runs (the streaming checkpoint manager runs readlink,
            # chmod and rm); until such a child execs it shares the JVM's
            # memory, and counting it would add the JVM again
        with self._lock:  # the sampler thread and arm/disarm both update
            self.peak = max(self.peak, jvm + py)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_workers = max(self.peak_workers, py)

    def cpu_s(self) -> float:
        table = _proc_table()
        return (sum(table[p][1] for p in _tree(table, os.getpid())
                    if p in table) - self._own_cpu)

    def arm(self) -> None:
        self._sample()
        self._armed = True

    def disarm(self) -> None:
        self._armed = False
        self._sample()

    def reset_peak(self) -> None:
        with self._lock:
            self.peak = self.peak_jvm = self.peak_workers = 0.0

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def median(xs) -> float:
    return float(statistics.median(xs))



@dataclass
class Meter:
    """Accumulates the timed region: wall time, process-tree CPU and peak
    memory of the measured calls only (checks and bookkeeping between
    them are excluded)."""
    proc: ProcTree
    busy_s: float = 0.0
    cpu_s: float = 0.0

    @contextmanager
    def measure(self, wall: list, cpu: list | None = None):
        """Measure the block; append its seconds to ``wall`` and its
        process-tree CPU seconds to ``cpu``."""
        self.proc.arm()
        c0 = self.proc.cpu_s()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            dc = self.proc.cpu_s() - c0
            self.proc.disarm()
            self.busy_s += dt
            self.cpu_s += dc
            wall.append(dt)
            if cpu is not None:
                cpu.append(dc)


class Tracer:
    """Layer spans of a traced run.  A span sets the Spark job group to the
    layer's name, so the event-log fold attributes the span's tasks to it,
    and records the span's wall time and process-tree CPU (which, unlike
    the JVM's executor CPU time, includes Python UDF workers)."""

    def __init__(self, sc, proc: ProcTree, enabled: bool):
        self.sc = sc
        self.proc = proc
        self.enabled = enabled
        self.wall: dict[str, float] = defaultdict(float)
        self.cpu: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        c0 = self.proc.cpu_s()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] += time.perf_counter() - t0
            self.cpu[name] += self.proc.cpu_s() - c0
            self.calls[name] += 1
            self.sc.setJobGroup("untraced", "untraced")


@dataclass
class Outcome:
    """What a workload measured: the latency and process-tree CPU seconds
    of each untraced unit operation, and the quality of their results."""
    ops: list[float]
    op_cpu: list[float]
    quality: float
    attempted: int
    failed: int
    layers: dict[str, float] = field(default_factory=dict)
    details: dict = field(default_factory=dict)


class Bench:
    """One benchmark run: arguments, run directory, session and meters."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 rundir: RunDir):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rundir = rundir
        self.cpus = nproc()
        self.heap_mb = jvm_heap_mb()
        self.proc = ProcTree()
        self.meter = Meter(self.proc)
        self.session_s = 0.0
        self.warm_s = 0.0
        self.load_s: list[float] = []
        self.spark = None
        self.tracer: Tracer | None = None
        self.event_dir = rundir.sub("eventlog") if trace else None

    def _conf(self) -> dict:
        tmp = self.rundir.sub("tmp")
        sock = tmp if len(tmp) <= _SOCK_DIR_MAX else os.path.relpath(tmp)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.rundir.sub("warehouse"),
            "spark.python.unix.domain.socket.dir": sock,
            # a fixed-size heap (-Xms = -Xmx) keeps GC work, and with it
            # CPU, from depending on when the JVM chose to grow the heap;
            # touching it all at start keeps resident memory from depending
            # on how far GC had walked into it (up to 20% of the JVM's
            # resident memory, run to run)
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
                f"-Xms{self.heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.rolling.enabled": "true",
                         "spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false"})
        return conf

    def start_session(self):
        """The run's one SparkSession, sized from the machine: local[nproc]
        and a heap that fits in RAM.  One per process: PySpark binds
        module-level UDFs to the first SparkContext, so a second context
        in the same JVM would run them against a stopped one."""
        from spellchecker_wasm_spark.session import get_spark
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{self.heap_mb}m"
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               cpus=self.cpus, extra_conf=self._conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext, self.proc, self.trace)
        return self.spark

    def set_up(self, input_dir: str, warm) -> None:
        """Start the session, load the inputs ``LOADS`` times (one job that
        reads every file under ``input_dir``), then run one untimed warm-up
        operation (``warm(spark)``), which pays codegen, JIT and
        Python-worker start.  Caches are cleared afterwards so the timed
        region rebuilds what users pay for."""
        spark = self.start_session()
        for _ in range(LOADS):
            t0 = time.perf_counter()
            (spark.read.format("binaryFile")
             .option("recursiveFileLookup", "true").load(input_dir)
             .where("length > 0").count())
            self.load_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm(spark)
        self.warm_s = time.perf_counter() - t0
        spark.catalog.clearCache()
        self.meter = Meter(self.proc)  # the warm-up is not the timed region
        self.proc.reset_peak()

    @property
    def setup_s(self) -> float:
        """Session start + warm-up + the median input load.  The first two
        can happen only once per process, so only the load is repeated."""
        return self.session_s + self.warm_s + median(self.load_s)

    def deadline(self):
        """Predicate for the timed loop: keep going until ``seconds`` have
        passed and at least ``MIN_OPS`` operations were measured."""
        t_end = time.perf_counter() + self.seconds

        def more(n_done: int) -> bool:
            return n_done < MIN_OPS or time.perf_counter() < t_end
        return more

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            jvm = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if jvm is not None:
                jvm.stdin.close()  # the gateway exits when its stdin closes
                try:
                    jvm.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
        self.proc.close()
