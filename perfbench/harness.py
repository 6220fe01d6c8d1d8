"""Per-run context: environment, Spark session, operation counts, stamps.

One workload run is one process. The context owns the run's scratch
directory (inside the checkout, removed at the end), the SparkSession the
engine's ``session.get_spark`` builds, the tracer, and the attempted /
failed operation counts that every workload feeds.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

from spans import Tracer


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return btime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


CATALYST_PHASES = ("analysis", "optimization", "planning")


class Ctx:
    def __init__(self, root: Path, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_proc = process_start_time()
        self.nproc = os.cpu_count() or 1
        self.work = root / ".perfbench" / f"run-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)
        self.tracer = Tracer(trace)
        self.event_log_dir = self.work / "eventlog"
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()
        self.stamps: dict = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "nproc": self.nproc,
            "loadavg_start": os.getloadavg(),
            "python": platform.python_version(),
        }
        self.spark = None
        self.t_first_op: float | None = None
        # Catalyst phase times (ms) of each foreground DataFrame collected.
        self.catalyst_ms: dict[str, list[float]] = {p: [] for p in CATALYST_PHASES}

    # ---- Spark ------------------------------------------------------
    def start_spark(self):
        """The run's session, started on first use."""
        if self.spark is not None:
            return self.spark
        # One local core per host CPU: the session otherwise defaults to
        # local[32] with 32 shuffle partitions whatever the host has.
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # A fixed heap size, so that peak RSS does not move with when the
            # collector chose to resize the heap; its pages are touched as
            # the program uses them.
            "spark.driver.extraJavaOptions": f"-Xms{heap}",
        }
        if self.trace:
            self.event_log_dir.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.event_log_dir),
                # one plain JSON-lines file, read back when the run ends
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from crypto_clickhouse_poc_spark.session import get_spark

        t = time.time()
        with self.tracer.span("session.get_spark", op="setup"):
            self.spark = get_spark(f"perfbench-{self.workload}", **conf)
        self.session_start_s = time.time() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        import pyspark

        self.stamps["spark"] = pyspark.__version__
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def gc_ms(self) -> float:
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def storage_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    def catalyst(self, df) -> float:
        """Record the Catalyst phase times of a DataFrame collected in the
        measured phase, read from its QueryPlanningTracker (traced runs
        only); returns their sum in ms."""
        if not self.trace or self.t_first_op is None:
            return 0.0
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0.0
        for p in CATALYST_PHASES:
            o = phases.get(p)
            ms = float(o.get().durationMs()) if o.isDefined() else 0.0
            self.catalyst_ms[p].append(ms)
            total += ms
        return total

    @contextmanager
    def job_group(self, group: str):
        """Run the enclosed calls under a Spark job group (traced runs only)."""
        if not self.trace:
            yield
            return
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)

    def peak_rss_mb(self) -> float:
        """Peak RSS (VmHWM) of the session's JVM, where the program's work
        runs. The Python process's also holds the benchmark's generators and
        DuckDB references, so it is only recorded beside it."""
        py, jvm = vm_hwm_mb(), vm_hwm_mb(self.jvm_pid)
        self.stamps["peak_rss_mb_python_jvm"] = (py, jvm)
        return jvm

    # ---- operations -------------------------------------------------
    def mark_first_op(self) -> None:
        if self.t_first_op is None:
            self.t_first_op = time.time()

    def op(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.failures) < 20:
                    self.failures.append(what)

    @contextmanager
    def guarded(self, what: str):
        """Count one operation; an exception inside fails it and is recorded."""
        try:
            yield
        except Exception:
            self.op(False, f"{what}: {traceback.format_exc(limit=3)}")
        else:
            self.op(True)

    @property
    def setup_s(self) -> float:
        return (self.t_first_op or time.time()) - self.t_proc

    def stop_spark(self) -> None:
        """Stop the session (this also flushes a traced run's event log),
        then end the JVM and wait for it to exit."""
        self.stamps["loadavg_end"] = os.getloadavg()
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits at end of input
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def cleanup(self) -> None:
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)
