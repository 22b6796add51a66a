"""Host-side measurements that need no Spark: run stamps, the peak
resident memory of the process tree, and bytes on disk."""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time


def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def git_commit(root: str) -> str:
    """HEAD of the checkout, or "unknown" when it is not a git work tree
    (git is only asked when ``root/.git`` exists, so it never searches
    parent directories)."""
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def stamp(root: str, workload: str, seed: int) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "nproc": nproc(),
        "loadavg_1m": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": git_commit(root),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:  # a concurrent cleanup removed it
                pass
    return total


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid`` (children, grandchildren...)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants: this Python
    process, the driver JVM it launched and the JVM's Python workers. Each
    process counts its proportional set size, so pages the forked Python
    workers share are counted once, not once per worker."""
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            total += _pss_bytes(pid)
        except OSError:  # exited since the scan
            pass
    return total


class PeakMemory:
    """Polls the process tree's resident memory on a daemon thread and keeps
    the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakMemory":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak_bytes

