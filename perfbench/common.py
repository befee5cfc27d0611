"""Shared pieces: the run result, the round loop, memory and Spark."""

from __future__ import annotations

import os
import signal
import subprocess
import time
from dataclasses import dataclass, field

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SLOTS = 2  # task slots; the other cores go to Python workers and the driver
SPARK_HEAP = "2g"


@dataclass
class RunResult:
    setup_s: float  # process start until the first measured round
    rounds: list[float]  # wall seconds of each measured round
    op_ms: list[float]  # latency of each measured operation
    attempted: int
    failed: int
    detail: dict = field(default_factory=dict)  # workload figures
    layers: dict = field(default_factory=dict)  # per-layer figures (traced run)
    peak_rss_mb: float = 0.0  # set by workloads whose JVM is gone by the end


def measure_rounds(seconds: float, one_round) -> list[float]:
    """Run whole rounds until ``seconds`` have passed; at least one. A
    round that returns a number reports its own time, which leaves out
    the checks it ran between its timed stages."""
    rounds: list[float] = []
    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        own = one_round(len(rounds))
        t1 = time.perf_counter()
        rounds.append(own if own is not None else t1 - t0)
        if t1 >= t_end:
            return rounds


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and every live descendant (JVM, Python workers)."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until each of ``pids`` has ended; kill those still running
    after ``timeout`` seconds and wait for them too."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident set."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class SparkRun:
    """A ``local[2]`` session whose scratch files stay in the work
    directory, and whose JVM is stopped and waited for on close."""

    def __init__(self, work: str):
        from tiered_storage_for_apache_kafka_spark.session import get_spark

        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        local = os.path.join(work, "spark-local")
        os.environ["SPARK_LOCAL_DIRS"] = local  # it overrides spark.local.dir
        # Python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{SPARK_SLOTS}]",
            shuffle_partitions=SPARK_SLOTS,
            extra_conf={
                "spark.driver.memory": SPARK_HEAP,
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # a fixed, pre-touched heap: how far the heap happens to grow
                # before a collection would otherwise swing the peak RSS
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -Xms{SPARK_HEAP} -XX:+AlwaysPreTouch"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def jobs_in(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) Spark ran under job group ``group``."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                sinfo = tracker.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo is not None else 0
        return len(jobs), stages, tasks

    def close(self) -> None:
        from pyspark import SparkContext

        # the JVM and its Python workers; workers outlive the JVM briefly
        # and are then no longer in this process's tree
        started = [p for p in process_tree() if p != os.getpid()]
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes; its Python workers with it
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        wait_gone(started)
