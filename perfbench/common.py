"""Run context shared by the workloads: environment, Spark session,
co-tenant sentinel, memory reading and percentiles.

Everything a run writes goes under ``<checkout>/.bench_work``; the
library is configured through its existing environment variables only.
"""

from __future__ import annotations

import math
import os
import sys
import time

from spans import Tracer, eventlog_conf, read_eventlog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

# Sized for a 4-core, 15 GB host that other tenants share: the largest
# working set here (the sf0.01 graph plus its checkpoints) needs well
# under 1 GB of heap.
DRIVER_MEM = "2g"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def setup_env() -> None:
    """Point the library and Spark at the run's own work directory. Must
    run before pyspark is imported."""
    for d in ("tmp", "spark-local", "snapshots"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_SNAPSHOT_ROOT"] = os.path.join(WORK, "snapshots")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def pctl(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), (ticks[7] if len(ticks) > 7 else 0)


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_hwm(pid: int | None = None) -> dict[str, float]:
    """Peak RSS in MB of *pid* (default: this process) and all of its
    descendants — the Python driver plus the JVM it launched — summed per
    command name."""
    todo, out = [pid or os.getpid()], {}
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            comm = "?"
        out[comm] = out.get(comm, 0.0) + hwm_mb(p)
        todo.extend(_children(p))
    return out


class Run:
    """One benchmark invocation: arguments, tracer, Spark lifecycle."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, smoke: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.smoke = smoke
        self.tracer = Tracer(trace)
        self.dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.dir, exist_ok=True)
        self.eventlog_dir = os.path.join(self.dir, "eventlog")
        self.spark = None
        self.sentinel: dict[str, float] = {}
        self.steal_share: float | None = None
        self._ticks: tuple[int, int] | None = None

    def start_spark(self):
        """Start the Spark session through the library's factory. The event
        log is turned on only in the traced run."""
        from graph_db_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # keep the JVM's temp files and perf-data file out of /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            conf.update(eventlog_conf(self.eventlog_dir))
        t0 = time.time()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.session_start_s = time.time() - t0
        return self.spark

    def run_sentinel(self, label: str) -> None:
        """Co-tenant sentinel: a fixed, IO-free 4-partition sum, plus the
        share of CPU time the hypervisor gave to other guests since the
        previous reading. It only annotates the run; nothing is scaled or
        excused by it."""
        job = self.spark.range(0, 30_000_000, 1, 4).selectExpr("sum(id)")
        if not self.sentinel:
            job.collect()  # first call compiles; keep that out of the reading
        t0 = time.perf_counter()
        job.collect()
        self.sentinel[label] = time.perf_counter() - t0
        stat = _cpu_ticks()
        if self._ticks is not None and stat[0] > self._ticks[0]:
            self.steal_share = (stat[1] - self._ticks[1]) / (stat[0] - self._ticks[0])
        self._ticks = stat

    def stop_spark(self) -> list[dict]:
        """Stop Spark, wait for its JVM to exit, and return the traced run's
        event-log jobs (empty when untraced)."""
        if self.spark is None:
            return []
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — must not leave the JVM behind
                    proc.kill()
                    proc.wait(timeout=30)
        self.spark = None
        return read_eventlog(self.eventlog_dir) if self.trace else []
