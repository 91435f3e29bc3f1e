"""Host and process accounting read from ``/proc``.

CPU is user+sys of this process and every descendant (the Spark driver JVM,
the JVM's Python daemon and its workers).  A descendant's ``cutime``/``cstime``
carry the CPU of children it has already reaped, so a child that exits
during a window is still counted: its own time is in the first snapshot,
and at the second it is in its parent's ``c*time``.  The guest's CPU
accounting excludes steal, which is why this figure holds when the host
takes cycles away and wall time drifts.
"""

from __future__ import annotations

import os
import platform
import subprocess

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """user+sys seconds of the process tree, reaped children included."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat (utime stime cutime cstime), 0-based 11-14 here
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the live process tree."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of the host from the aggregate /proc/stat line."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # guest/guest_nice are already inside user/nice
    total = sum(fields[:8])
    return total, fields[7]


def steal_fraction(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
        return out.stderr.splitlines()[0].strip() if out.stderr else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def fingerprint() -> dict:
    """What must match before two sets of runs are compared."""
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_total_kb(),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "duckdb": duckdb.__version__,
        "spark_graft_env": {
            k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")
        },
    }
