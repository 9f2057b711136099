"""Process-tree CPU and memory, and host load, read from /proc.

The measured program is one driver Python process, the JVM it launches
and the Python workers the JVM forks. ``psutil`` is not available, so the
tree is walked through /proc/<pid>/stat.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return s[s.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live tree, including children each
    process has already reaped (Python workers that exited)."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError):
            pass
    return total * _PAGE / 1e6


def host_sample() -> dict:
    """1-minute load average and cumulative steal/total CPU ticks."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg_1m": os.getloadavg()[0], "steal_ticks": vals[7], "total_ticks": sum(vals)}


def steal_frac(before: dict, after: dict) -> float:
    total = after["total_ticks"] - before["total_ticks"]
    return (after["steal_ticks"] - before["steal_ticks"]) / total if total else 0.0


class RssSampler:
    """Samples the tree's RSS in a background thread and keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root, self.interval_s, self.peak_mb = root, interval_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_for_children(root: int, timeout_s: float) -> list[int]:
    """Wait until ``root`` has no live descendants; return any left."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in tree_pids(root) if p != root]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.2)
