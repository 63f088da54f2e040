"""Process-tree and host counters read from ``/proc`` (Linux only).

The system under test is a process tree: the Python driver, the JVM it
launches, and the Python workers the JVM forks. These helpers attribute
CPU time and resident memory to those roles, and read the host-wide
``/proc/stat`` counters that show steal time and load from other
processes.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    pids, todo = [], [pid]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(children(p))
    return pids


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` plus those of the children it has reaped."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 of /proc/PID/stat
    return sum(int(x) for x in f[11:15]) / CLK_TCK


def rss_kb(pid: int) -> int:
    f = _stat_fields(pid)
    return int(f[21]) * PAGE_KB if f is not None else 0


def _is_java(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("java")
    except OSError:
        return False


def cpu_by_role(root: int) -> dict[str, float]:
    """CPU seconds of the tree under ``root``, split into the driver
    process itself, the JVM, and the Python workers under the JVM."""
    roles = {"driver_python": cpu_s(root), "jvm": 0.0, "python_workers": 0.0}
    for child in children(root):
        if _is_java(child):
            roles["jvm"] += cpu_s(child)
            roles["python_workers"] += sum(cpu_s(p) for p in tree(child)[1:])
    return roles


def tree_cpu_s(root: int) -> float:
    return sum(cpu_by_role(root).values())


def tree_rss_mb(root: int) -> float:
    return sum(rss_kb(p) for p in tree(root)) / 1024.0


def host_cpu() -> dict[str, int]:
    """Host-wide jiffies from the ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    vals = dict(zip(names, (int(x) for x in fields)))
    vals["total"] = sum(int(x) for x in fields[:8])
    return vals


def probe_ms() -> float:
    """Time of a fixed single-threaded loop: a host-speed reading taken
    beside each run, so slow phases of a shared host show in the record."""
    import time

    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t) * 1000


def host_noise(before: dict[str, int], after: dict[str, int], own_cpu_s: float) -> dict:
    """Steal share of all CPU time over the interval, and the CPU seconds
    the rest of the host used beside ``own_cpu_s``."""
    total = max(1, after["total"] - before["total"])
    idle = (after["idle"] - before["idle"]) + (after["iowait"] - before["iowait"])
    steal = after["steal"] - before["steal"]
    busy_s = (total - idle - steal) / CLK_TCK
    return {
        "steal_share": steal / total,
        "other_cpu_s": max(0.0, busy_s - own_cpu_s),
        "nproc": len(os.sched_getaffinity(0)),
    }
