"""Run-window and environment records: CPU steal probe, process-tree RSS
sampler, versions, and the executor package rebuild."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
import time
import zipfile


def steal_probe(n: int = 5_000_000) -> float:
    """Fixed single-thread spin in M adds/s; CPU steal from a shared host
    shows as a depressed value."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return n / (time.perf_counter() - t0) / 1e6


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def rebuild_package(root: str) -> str:
    """Rebuild ``dist/pastash_spark.zip`` from the tree with the repo's own
    script, so executors never run a stale zip; returns a hash of the zip's
    member names and contents (zip bytes carry mtimes)."""
    subprocess.run(["bash", os.path.join(root, "scripts", "package.sh")],
                   cwd=root, check=True, stdout=subprocess.DEVNULL)
    h = hashlib.sha256()
    zip_path = os.path.join(root, "dist", "pastash_spark.zip")
    with zipfile.ZipFile(zip_path) as zf:
        for info in sorted(zf.infolist(), key=lambda i: i.filename):
            h.update(info.filename.encode())
            h.update(zf.read(info))
    return h.hexdigest()


def java_version(spark) -> str:
    return spark.sparkContext._jvm.java.lang.System.getProperty("java.version")


def environment(spark, master: str) -> dict:
    import pyspark
    return {"nproc": nproc(), "master": master,
            "spark": pyspark.__version__, "java": java_version(spark),
            "python": platform.python_version()}


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def _tree(root: int) -> list[int]:
    tree = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(tree.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_seconds(root: int = 0) -> float:
    """CPU seconds used by this process tree (JVM, Python workers, driver):
    own plus reaped children's user and system time of every live member,
    so a worker that exits moves its time to its parent, not out."""
    total = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak RSS of this process and all its descendants (JVM, Python
    workers), sampled from /proc on a background thread.  ``cpu_s`` is the
    CPU time the sampling thread has used so far, to subtract from the
    tree's."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self.samples += 1
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
