"""Host-derived Spark session settings, the host and stack record, and the
peak resident memory of the process tree, read from /proc."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"/proc/meminfo has no {key}")


def memory_limit_mb() -> int:
    """The memory this process may use: the host's, or the container's
    cgroup limit when that is lower."""
    limit = meminfo_mb("MemTotal")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit = min(limit, int(raw) // 2**20)
    return limit


def driver_heap_mb() -> int:
    """A sixteenth of the memory limit, kept within 1-4 GiB: the inputs are
    small and the host is shared. Derived from the limit, not from what is
    free at the moment, so the heap (and with it the peak RSS) does not
    drift with other work on the host."""
    return max(1024, min(4096, memory_limit_mb() // 16))


def start_session(work_dir: str, heap_mb: int, ui: bool):
    """local[N] on the cores this process may run on. The heap only takes
    effect when the first session launches the JVM."""
    from deepblocker_spark.session import get_spark

    n = cores()
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "10000000",
        })
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=2 * n,
                     extra_conf=conf)


def git_commit(root: str) -> str | None:
    """HEAD of the repository rooted at ``root``; None when ``root`` is not
    the top of a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(root):
        return None
    return lines[1]


def source_sha(package_dir: str) -> str:
    """sha256 over the package's .py files, so results from a checkout
    without git history still name the code they measured."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(package_dir):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, package_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def host_record(spark, root: str, seed: int, heap_mb: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "cores": cores(),
        "mem_total_mb": meminfo_mb("MemTotal"),
        "mem_available_mb": meminfo_mb("MemAvailable"),
        "mem_limit_mb": memory_limit_mb(),
        "driver_heap_mb": heap_mb,
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": git_commit(root),
        "source_sha": source_sha(os.path.join(root, "deepblocker_spark")),
        "seed": seed,
    }


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid``, the JVM it launched and the JVM's Python
    daemon and workers. Other descendants are left out: a helper process
    the JVM forks reports the JVM's own resident pages as its RSS until it
    execs."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except (OSError, ValueError):
            continue  # exited while listing
        pid = int(name)
        comm[pid] = head.split("(", 1)[1]
        children.setdefault(int(tail.split()[1]), []).append(pid)
    jvms = [p for p in children.get(root_pid, ()) if comm[p] == "java"]
    counted = [root_pid, *jvms]
    todo = [c for j in jvms for c in children.get(j, ())]
    while todo:
        pid = todo.pop()
        if comm[pid].startswith("python"):
            counted.append(pid)
            todo.extend(children.get(pid, ()))
    total = 0
    for pid in counted:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Peak of ``tree_rss_bytes`` over a ``with`` block, sampled every
    ``interval`` seconds by one background thread that only reads /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
