"""Host diagnostics: the contention sentinel and process-tree memory."""

from __future__ import annotations

import os
import signal
import time


def settle(tries: int = 6, tolerance: float = 0.15) -> list[float]:
    """Run the fixed-work probe from ``bench.py`` until two consecutive
    readings agree within ``tolerance`` (or ``tries`` run out) and
    return every reading, in seconds.  The readings are diagnostics
    only; no metric is rescaled by them."""
    from bench import contention_probe

    readings = [contention_probe()]
    for _ in range(tries - 1):
        time.sleep(0.2)
        readings.append(contention_probe())
        a, b = readings[-2], readings[-1]
        if abs(a - b) <= tolerance * min(a, b):
            break
    return readings


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        child = todo.pop()
        out.append(child)
        todo += _children(child)
    return out


def tree_peak_rss(pid: int) -> tuple[float, float]:
    """Peak resident set (VmHWM) of ``pid`` and of all its descendants
    (the Spark JVM), in MB."""
    return _hwm_mb(pid), sum(_hwm_mb(c) for c in descendants(pid))


def reap(pids: list[int], timeout: float) -> None:
    """Wait until every process in ``pids`` has exited; kill the ones
    still alive after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
