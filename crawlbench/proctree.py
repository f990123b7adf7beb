"""Process-tree accounting read from /proc: CPU seconds, peak PSS, host steal.

A benchmark run is one Python driver plus the Spark JVM it launches plus the
Python workers the JVM forks.  Their CPU time is summed over the whole tree,
including children that already exited: an exited child's time moves into
its parent's ``cutime``/``cstime`` once the parent reaps it, so a tree total
taken before and after a job counts every process that ran in between.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
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
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    return sum(_pss_kb(p) for p in tree_pids(root)) / 1024.0


class PeakPss:
    """Background sampler of the tree's PSS; ``peak_mb`` is the largest sum."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))


def host_cpu_ticks() -> dict[str, int]:
    """Aggregate host CPU ticks from /proc/stat (idle, steal, total)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice
    return {"idle": vals[3] + vals[4], "steal": vals[7], "total": sum(vals[:8])}


def host_share(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """Share of host CPU time spent idle and stolen between two samples."""
    total = max(1, after["total"] - before["total"])
    return {
        k: round((after[k] - before[k]) / total, 4) for k in ("idle", "steal")
    }


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    # a zombie has exited; only its parent's wait remains
    return f is not None and f[0] != "Z"
