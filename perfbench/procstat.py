"""Process and host counters read from /proc (psutil is not installed)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant -- the JVM and its Python workers -- including the
    children each of them has already reaped."""
    kids: dict[int, list[int]] = {}
    stat: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        stat[int(d)] = f
        kids.setdefault(int(f[1]), []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        f = stat.get(pid)
        if f:  # utime, stime, cutime, cstime
            total += sum(int(x) for x in f[11:15])
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's virtual
    CPUs since boot, summed over all of them."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def vm_hwm_mb(pid: int | str) -> float:
    """High-water resident set of a process."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def thread_cpu_s(pid: int) -> dict[str, float]:
    """CPU seconds of each live thread of a process, summed by thread
    name with trailing digits dropped (``GC Thread#0`` -> ``GC Thread#``)."""
    out: dict[str, float] = {}
    for t in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")].rstrip("0123456789")
        f = raw.rsplit(")", 1)[1].split()
        out[name] = out.get(name, 0) + (int(f[11]) + int(f[12])) / _TICK
    return out
