"""Host and process-tree accounting read straight from /proc.

The benchmark's process tree is the Python client, the JVM it launches
and the JVM's Python workers, so a Spark job's cost is spread over
several processes. CPU time is read per process (utime + stime plus
the times of reaped children), which excludes hypervisor steal; steal
itself is read from the host-wide line of /proc/stat.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds) for every readable process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces and parentheses: split after it
        fields = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        table[int(name)] = (int(fields[1]), ticks / _TICK)
    return table


def _tree(table: dict[int, tuple[int, float]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def descendants(root: int | None = None) -> list[int]:
    """root and every live process below it."""
    return _tree(_proc_table(), os.getpid() if root is None else root)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by root's process tree."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, os.getpid() if root is None else root))


def steal_s() -> float:
    """Host-wide hypervisor steal so far, in CPU seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def _status_field(pid: int, field: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return line.split(None, 1)[1].strip()
    except OSError:  # the process ended
        pass
    return None


def peak_rss_mb(root: int | None = None) -> float:
    """Peak resident set (VmHWM) of root plus its JVM children.

    The Python workers are left out: how many are alive at the end
    varies from run to run, and each holds little."""
    root = os.getpid() if root is None else root
    pids = [root] + [p for p in descendants(root) if _status_field(p, "Name") == "java"]
    kb = sum(int((_status_field(p, "VmHWM") or "0 kB").split()[0]) for p in pids)
    return kb / 1024.0


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of pids is alive; return the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return True
    return raw[raw.rindex(")") + 2] == "Z"
