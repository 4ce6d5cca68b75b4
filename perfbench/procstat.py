"""Process-tree CPU and memory from ``/proc``, host steal, and a CPU-speed
calibration spin. Linux only; every reader returns plain numbers."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
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


def alive(pid: int) -> bool:
    """Running, or at least not yet a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def cpu_seconds(root: int) -> float:
    """User + system CPU of ``root``'s tree, reaped children included
    (cutime/cstime), so a Python worker that exited mid-pass still counts
    once its parent has waited for it."""
    total = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants. A descendant still
    running ``root``'s executable is a fork or vfork that has not exec'd
    yet (the JVM spawns shell helpers this way); it shares ``root``'s pages
    and would count them twice, so it is skipped."""
    try:
        root_exe = os.readlink(f"/proc/{root}/exe")
    except OSError:
        return 0
    total = 0
    for pid in tree(root):
        try:
            if pid != root and os.readlink(f"/proc/{pid}/exe") == root_exe:
                continue
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:  # the process ended mid-read
            pass
    return total


class RssSampler:
    """Peak resident memory of a process tree, sampled on a thread."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes(self.root))


def host_ticks() -> dict[str, int]:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return {"busy": sum(int(x) for x in parts[1:4]), "idle": int(parts[4]), "steal": int(parts[8])}


def steal_fraction(t0: dict[str, int], t1: dict[str, int]) -> float | None:
    """Share of the host's non-idle ticks that the hypervisor stole."""
    busy = (t1["busy"] - t0["busy"]) + (t1["steal"] - t0["steal"])
    return (t1["steal"] - t0["steal"]) / busy if busy > 0 else None


def calibration_spin() -> float:
    """Seconds for a fixed single-thread pure-Python spin, best of three:
    how fast one vCPU runs right now, whatever steal says."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        n = 400_000
        while n:
            n -= 1
        best = min(best, time.perf_counter() - t0)
    return best
