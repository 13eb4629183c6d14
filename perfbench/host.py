"""Host sizing, the host stamp, memory sampling and process shutdown.

Everything here reads ``/proc`` directly (psutil is not a dependency).
All paths the run writes are under ``work`` inside the checkout.
"""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """A quarter of physical memory, within [1 GiB, 8 GiB].

    Local mode runs every task in the driver JVM, and the Python
    workers live outside its heap, so the heap takes a share that
    leaves room for them on a host without swap."""
    return max(1024, min(8192, mem_total_mb() // 4))


def configure_env(root: str, work: str, trace_dir: str | None) -> None:
    """Environment the session and its workers inherit; call before the
    JVM starts.

    Task slots are one fewer than the CPUs: each busy task also keeps a
    Python worker busy, and the driver process, JIT compiler and garbage
    collector need a CPU of their own; measured on a 4-CPU host, all
    four slots made the wall-time spread across seeds twice as wide.
    Shuffle and spill files go to ``work`` on disk, never the RAM-backed
    ``/dev/shm``; workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, nproc() - 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local   # wins over spark.local.dir
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        os.environ["SPARK_GRAFT_UDF_TRACE"] = trace_dir
    else:
        os.environ.pop("SPARK_GRAFT_UDF_TRACE", None)


def session_conf(work: str) -> dict:
    """Session settings on top of the engine's: scratch paths inside
    ``work``; the heap committed and touched at its full size when the
    JVM starts. Otherwise the resident size depends on how far the
    collector has cycled through the heap when the run ends, which
    varied by a fifth between runs; with it, resident memory changes
    only with the JVM's native memory and the Python workers."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{driver_mem_mb()}m -XX:+AlwaysPreTouch",
    }


def source_digest(root: str) -> str:
    """sha256 over the package sources: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "jaccard_ml_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def stamp(root: str, spark) -> dict:
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_mem_mb": driver_mem_mb(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
    }


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(root_pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of a process and its descendants."""
    total = 0
    for pid in [root_pid] + _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += int(fields[11]) + int(fields[12])
    return total / TICK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE / (1024 * 1024)
    except OSError:
        return 0.0


class PeakRss:
    """Samples resident memory of a process and its descendants (the
    JVM and the Python workers it forked) every ``interval`` seconds on
    a background thread between ``start()`` and ``stop()``. Keeps the
    peak of the sum and, for the record, of each part."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = self.peak_root = self.peak_children = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            root = _rss_mb(self.root_pid)
            kids = sum(map(_rss_mb, _descendants(self.root_pid)))
            self.peak = max(self.peak, root + kids)
            self.peak_root = max(self.peak_root, root)
            self.peak_children = max(self.peak_children, kids)
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(jvm_pid(spark))
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(map(_alive, workers)):
        time.sleep(0.1)
    for pid in filter(_alive, workers):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
