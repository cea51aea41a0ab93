"""Process-tree resident memory and CPU time, read from /proc.

The tree is this Python driver plus every descendant (the Spark driver
JVM and the Python workers it forks), minus the subtrees listed in
`exclude` (the catalog server, which stands in for a remote service).
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime of the process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _tree(root: int, exclude: set[int]) -> list[int]:
    kids = _children()
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            pids.append(pid)
            todo.extend(kids.get(pid, []))
    return pids


def tree_rss_bytes(root: int, exclude: set[int]) -> int:
    return sum(_rss_bytes(pid) for pid in _tree(root, exclude))


def tree_cpu_seconds(root: int, exclude: set[int]) -> float:
    """CPU time used so far by the tree (live processes and the children
    they reaped). Unlike wall time it does not grow when the host
    withholds the CPU from this machine."""
    ticks = sum(_cpu_ticks(pid) for pid in _tree(root, exclude))
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants() -> list[int]:
    """Live processes this process started, directly or not."""
    return [p for p in _tree(os.getpid(), set()) if p != os.getpid()]


def _state(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return None


def wait_ended(pids: list[int], timeout: float) -> None:
    """Wait until every process in `pids` has exited (a zombie has);
    kill those still running at the timeout."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if _state(p) not in (None, "Z")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
            pids = alive
        time.sleep(0.1)


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of the peak process-tree RSS."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root, self.exclude))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20
