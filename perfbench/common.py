"""Run context shared by the workloads: sandbox, session, memory, host."""
from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import threading
import time

CORES = 2
DRIVER_MEMORY = "2g"


def median(values: list) -> float:
    return float(statistics.median(values))


class Run:
    """One benchmark process: its work directory, session and samplers.

    Everything the run reads or writes lives under ``<root>/.perfbench_work``
    (Spark local dirs, JVM and Python temp files, event logs, staged
    inputs); the directory is removed when the run ends.
    """

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool, t_process: float):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_process = t_process
        self.work = os.path.join(
            root, ".perfbench_work", f"{workload}-{os.getpid()}"
        )
        self.spark = None
        self.session_start_s = None
        self.input_s = 0.0
        self.setup_s = None
        self.load_start = os.getloadavg()[0]
        self.cpu_start = cpu_jiffies()
        self.rss = RssSampler(os.getpid())
        self._sandbox_env()

    def _sandbox_env(self) -> None:
        for sub in ("tmp", "spark-local", "eventlog", "warehouse", "inputs"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ.update(
            {
                "TMPDIR": tmp,
                "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
                # the program's default: warm the session at creation
                "SPARK_GRAFT_WARMUP": "1",
                # the program's heap knob; its 8g default let the driver
                # JVM and workers reach 4.3 GB resident on a shared host
                "SPARK_DRIVER_MEM": DRIVER_MEMORY,
                "PYSPARK_PYTHON": sys.executable,
                "PYSPARK_DRIVER_PYTHON": sys.executable,
                "PYTHONPATH": os.pathsep.join(
                    p for p in (self.root, os.environ.get("PYTHONPATH")) if p
                ),
            }
        )
        import tempfile

        tempfile.tempdir = tmp
        if self.root not in sys.path:
            sys.path.insert(0, self.root)

    def log(self, message: str) -> None:
        print(f"perfbench: {message}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def unit_seed(self, index: int) -> int:
        """A distinct input seed per unit: no cache ever sees a repeat."""
        return random.Random(f"{self.workload}:{self.seed}:{index}").randrange(
            1, 2**31
        )

    def start_session(self):
        """Start Spark through the program's own ``session.get_spark``,
        with its defaults (shuffle partitions included) for everything but
        the master, the heap, the work directories and, in traced runs, the
        event log."""
        from bib_dedupe_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')}"
            ),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        self.rss.start()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{CORES}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.time() - self.t_process
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = time.time() - self.t_process

    def close(self) -> None:
        """Stop Spark and wait until its JVM has ended. ``spark.stop()``
        ends the Python workers; the JVM exits once its stdin closes."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.rss.stop()
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                try:
                    gateway.proc.wait(timeout=30)
                except Exception:
                    gateway.proc.kill()
                    gateway.proc.wait()

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def descendants(pid: int) -> list:
    """Every live process below ``pid``, from ``/proc``."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(parent, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


class RssSampler:
    """Peak resident memory of all descendants of this process (the
    driver JVM and its Python workers), sampled every 0.2 s. The
    benchmark's own process, which holds its generated inputs and the
    results it checks, is left out."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except OSError:
            return 0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            total = sum(self._rss(p) for p in descendants(self.pid))
            self.peak_bytes = max(self.peak_bytes, total)

    def start(self) -> None:
        if not self._thread.is_alive():
            self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6


# ------------------------------------------------------------ host context


def cpu_jiffies() -> list:
    """The host's aggregate CPU counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_frac(start: list, end: list) -> float:
    """Share of host CPU time taken by other guests between two readings."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def kernel_gauge_ms() -> float:
    """The ROADMAP's kernel gauge, taken from the repository's own
    ``bench.run_kernels``: best of 5 exact ``sim_abstract`` calls on its
    900x1400-character pair, in ms. A CPU-speed reading of the host."""
    import bench

    return bench.run_kernels()["abstract_exact_900x1400_ms"]
