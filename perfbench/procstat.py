"""CPU time and memory high-water marks of this process tree, from /proc.

CPU is user+sys of every live process descended from this one (the
driver, its JVM, the Python daemon and workers) plus the time of children
each has already reaped, so a worker that exits mid-pass is still counted.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    total = 0
    for pid in descendants(root or os.getpid()):
        st = _stat(pid)
        if st:  # utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip().startswith("python")
    except OSError:
        return False


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def reap(pids: list[int], timeout: float = 10.0) -> None:
    """SIGTERM the processes still alive among `pids`, then wait (by
    polling: they are not our children) until all have exited."""
    import signal
    import time

    alive = [p for p in pids if _stat(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.monotonic() + timeout
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if _stat(p) and _stat(p)[0] != "Z"]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
