"""Machine shape, CPU pinning, the Spark session and process-tree memory.

Every run is pinned to ``cores`` CPUs of its affinity set and refuses to
run when the kernel grants fewer; the driver heap is sized from
physical RAM rather than a fixed figure.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time


class MachineRefused(RuntimeError):
    """The machine cannot give a level what it asks for."""


def total_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise MachineRefused("no MemTotal in /proc/meminfo")


def heap_mb(ram_mb: int) -> int:
    """An eighth of physical RAM, between 1 and 6 GiB."""
    return max(1024, min(6144, ram_mb // 8))


def pin(cores: int) -> list[int]:
    """Pin this process to the first ``cores`` CPUs it may use; refuse
    the level when the mask that comes back is smaller."""
    allowed = sorted(os.sched_getaffinity(0))
    want = set(allowed[:cores])
    os.sched_setaffinity(0, want)
    got = sorted(os.sched_getaffinity(0))
    if len(got) < cores:
        raise MachineRefused(f"level {cores} asked for {cores} CPUs, "
                             f"affinity mask is {got}")
    return got


def jvm_flags(heap: int) -> str:
    """The program's STEADY_JVM_OPTS with its fixed -Xms replaced by the
    RAM-sized heap (-Xms = spark.driver.memory, so it never resizes)."""
    from pyproj_spark.session import STEADY_JVM_OPTS
    flags = [f for f in STEADY_JVM_OPTS.split() if not f.startswith("-Xms")]
    return " ".join(flags + [f"-Xms{heap}m"])


def shape(level_cpus: dict[int, list[int]]) -> dict:
    return {"nproc": os.cpu_count(), "ram_mb": total_ram_mb(),
            "heap_mb": heap_mb(total_ram_mb()),
            "affinity": {str(k): v for k, v in level_cpus.items()}}


class Session:
    """One JVM for the whole run; ``start()`` creates a SparkContext on it
    (the first call launches the JVM), ``stop()`` ends the context.

    Every byte Spark, the JVM and the Python workers write goes under
    ``work``. ``event_log(True)`` makes the next context write a Spark
    event log there; the setting is a JVM system property, which a new
    SparkContext reads as part of its conf.
    """

    def __init__(self, work: str, cores: int, repo_root: str):
        self.work = work
        self.cores = cores
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(self.event_dir, exist_ok=True)
        self.heap = heap_mb(total_ram_mb())
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{self.heap}m"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={tmp}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'wh')}",
            "pyspark-shell"])

    def start(self):
        from pyproj_spark.session import get_spark
        self.spark = get_spark(
            "perfbench", cores=self.cores,
            java_opts=f"{jvm_flags(self.heap)} "
                      f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def event_log(self, on: bool) -> None:
        from pyspark import SparkContext
        system = SparkContext._jvm.java.lang.System
        props = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + self.event_dir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
        for k, v in props.items():
            if on:
                system.setProperty(k, v)
            else:
                system.clearProperty(k)

    def event_log_files(self) -> list[str]:
        return sorted(os.path.join(self.event_dir, f)
                      for f in os.listdir(self.event_dir))

    def shutdown(self) -> None:
        """Stop the context and the JVM and wait for both."""
        self.stop()
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                # the JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def steal_s(cpus: list[int]) -> float:
    """Seconds the hypervisor has stolen from ``cpus`` so far."""
    want = {f"cpu{c}" for c in cpus}
    total = 0
    with open("/proc/stat") as f:
        for line in f:
            parts = line.split()
            if parts[0] in want:
                total += int(parts[8])
    return total / os.sysconf("SC_CLK_TCK")


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class RssSampler:
    """Peak resident memory of every descendant of this process (the
    driver JVM and its Python workers), sampled every ``period`` s. Each
    process counts its proportional set size, so pages the forked
    workers share count once; this process, which holds only the
    benchmark's own state, is left out."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in tree_pids(me) if p != me)
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wait_children(timeout: float = 30.0) -> None:
    """Wait until every descendant process has exited."""
    deadline = time.time() + timeout
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
