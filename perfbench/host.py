"""Host measurements read from ``/proc`` (no psutil).

The engine process tree is this Python process, its JVM child, and the
JVM's Python worker daemon and workers.  CPU is user+sys of every live
process in the tree plus what reaped children left in their parents'
``cutime``/``cstime``, so a worker that exits between two readings is
still counted.  Memory is summed over the live tree from /proc/<pid>/status.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may hold spaces; fields resume after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its descendants, from /proc/*/stat parent links."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime+cutime+cstime summed over the tree, in seconds."""
    ticks = 0
    for pid in process_tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # fields 14-17 of stat(5), i.e. offsets 11-14 after the comm
        ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def tree_memory_mb(field: str = "VmRSS", exclude: tuple[int, ...] = ()) -> float:
    """Sum of a /proc/<pid>/status memory field over this process's live
    tree, in MB: ``VmRSS`` (resident now) or ``VmHWM`` (each process's
    peak)."""
    kb = 0
    for pid in process_tree():
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(field + ":"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def since_process_start(pid: int | None = None) -> float:
    """Seconds since ``pid`` started: /proc/uptime minus its stat start
    time (both counted from boot, at clock-tick resolution)."""
    start_ticks = int(_stat_fields(pid or os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK
