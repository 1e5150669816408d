"""Process and host readings from /proc (Linux only)."""

from __future__ import annotations

import os
import time

HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields after it are positional
    return [raw[: raw.index(" ")], raw[raw.index("(") + 1: raw.rindex(")")]] + raw[raw.rindex(")") + 2:].split()


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for pid in _pids():
        st = _stat(pid)
        if st is not None:
            out.setdefault(int(st[3]), []).append(pid)
    return out


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_s(st: list[str]) -> float:
    # utime, stime, cutime, cstime: fields 14-17 of /proc/<pid>/stat
    return sum(int(x) for x in st[13:17]) / HZ


def tree_cpu_s() -> float:
    """CPU-seconds used by this process and every live descendant,
    including children they have already reaped (cutime/cstime)."""
    root = os.getpid()
    total = 0.0
    for pid in [root] + descendants(root):
        st = _stat(pid)
        if st is not None:
            total += _cpu_s(st)
    return total


def python_worker_cpu_s() -> float:
    """CPU-seconds of the Python workers (descendants of this driver whose
    command is a Python interpreter)."""
    total = 0.0
    for pid in descendants(os.getpid()):
        st = _stat(pid)
        if st is not None and st[1].startswith("python"):
            total += _cpu_s(st)
    return total


def process_age_s() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[21]) / HZ


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def foreign_spark_jvms() -> list[int]:
    """Spark JVMs running on this host that this process did not start."""
    mine = set(descendants(os.getpid()))
    out = []
    for pid in _pids():
        if pid in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            out.append(pid)
    return out


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive."""
    deadline = time.time() + timeout_s
    alive = pids
    while True:
        alive = [p for p in alive if (_stat(p) or ["", "", "Z"])[2] != "Z"]
        if not alive or time.time() > deadline:
            return alive
        time.sleep(0.1)
