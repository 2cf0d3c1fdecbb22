"""Shared plumbing for the benchmark workloads: the work directory inside
the checkout, the Spark session, peak-RSS sampling of the process tree,
and small statistics helpers."""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, ()))
        todo.extend(kids.get(p, ()))
    return out


def tree_hwm_mb(pid: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of ``pid`` and every live
    descendant: this process, the JVM it launched and the Python workers."""
    pid = os.getpid() if pid is None else pid
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


@dataclass
class Bench:
    """One workload run: its work directory, session, RSS peak, op counts."""

    workload: str
    seed: int
    seconds: float
    size: str = "full"
    cores: int = field(default_factory=nproc)
    work: str = ""
    spark: object = None
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def __post_init__(self):
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{self.workload}-{os.getpid()}"
        )

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self, app: str, event_log: bool = False):
        from arc_spark.session import get_spark

        os.makedirs(self.path("spark-local"), exist_ok=True)
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if event_log:
            os.makedirs(self.path("spark-events"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("spark-events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app, master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def sample_rss(self) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, tree_hwm_mb())

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Count one attempted operation; a failed oracle counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}"[:300])
        return ok

    def fail(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(f"{what}: {type(exc).__name__}: {exc}"[:300])

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM to exit (it exits when the
        launcher's stdin closes)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        started = descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        # the JVM's Python workers outlive it briefly; wait them out
        deadline = time.time() + 20
        for pid in started:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass

    def close(self) -> None:
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)


@contextmanager
def timed(samples: list[float]):
    """Append the wall time of the block to ``samples``."""
    t0 = time.perf_counter()
    yield
    samples.append(time.perf_counter() - t0)
