"""CPU and memory of a process tree, read from /proc (Linux only).

The benchmark process is the root of the tree: it starts the Spark JVM,
which starts the PySpark daemon and its Python workers.  Counting the
whole tree puts the driver, the JVM and the Python workers on one scale.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; every field after it is numeric
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant of it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we were listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> dict[int, float]:
    """User + system CPU per process, including its reaped children."""
    out = {}
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of stat(5)
        out[pid] = sum(int(x) for x in f[11:15]) / _TICK
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU spent between two snapshots; a process born in between counts
    from zero."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's peak-RSS counter (VmHWM) from its current
    RSS, so a later :func:`peak_rss_mb` covers only what follows."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # process gone, or the kernel refuses: keep the lifetime peak


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the per-process resident-set peaks, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def host_info() -> dict:
    """The host facts every result carries, so numbers from different
    hosts are never compared silently."""
    import platform

    import pandas
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }
