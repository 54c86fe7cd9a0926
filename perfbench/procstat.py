"""Readers for Linux ``/proc``: process age, peak RSS, CPU of process trees."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # the command name may hold spaces: fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def seconds_since_start() -> float:
    """Time since this process was started."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we listed
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(pid: int) -> list[int]:
    children = _children_map()
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"python" in fh.read().split(b"\0", 1)[0]
    except OSError:
        return False


def _cpu_s(pids) -> float:
    """CPU seconds (user + system, including reaped children) of ``pids``."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue  # exited
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def python_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of every Python process below ``root_pid``: the Spark
    JVM's ``pyspark.daemon`` and the workers it forks."""
    return _cpu_s(p for p in descendants(root_pid) if _is_python(p))


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and every process below it."""
    return _cpu_s([root_pid, *descendants(root_pid)])


def python_descendants(root_pid: int) -> list[int]:
    return [p for p in descendants(root_pid) if _is_python(p)]


def alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def cpu_model() -> str:
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"
