"""Memory and Python-worker CPU, read from /proc outside the engine."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:  # the process exited between listing and reading
        return None


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        raw = _read(f"{task_dir}/{tid}/children")
        if raw:
            out.extend(int(c) for c in raw.split())
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        for c in _children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def _cmdline(pid: int) -> str:
    return (_read(f"/proc/{pid}/cmdline") or "").replace("\0", " ")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    for line in (_read(f"/proc/{pid}/status") or "").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(driver_pid: int) -> int | None:
    for pid in descendants(driver_pid):
        if "java" in (_read(f"/proc/{pid}/comm") or "") or "org.apache.spark" in _cmdline(pid):
            return pid
    return None


def _cpu_ticks(pid: int, with_children: bool) -> int:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return 0
    # fields after the parenthesised command name; utime is field 14
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks


def _ppid(pid: int) -> int:
    raw = _read(f"/proc/{pid}/stat") or ") ? 0"
    return int(raw[raw.rindex(")") + 2:].split()[1])


def python_worker_cpu_s(driver_pid: int) -> float:
    """User+system CPU of the PySpark worker processes, in seconds.

    The workers are forked by ``pyspark.daemon`` (and so share its command
    line), which reaps them: a worker that has exited is counted through
    the daemon's cutime/cstime, a live one through its own utime/stime."""
    ticks = 0
    for pid in descendants(driver_pid):
        if "pyspark.daemon" in _cmdline(pid) and "pyspark.daemon" not in _cmdline(_ppid(pid)):
            ticks += _cpu_ticks(pid, with_children=True)
            for worker in descendants(pid):
                ticks += _cpu_ticks(worker, with_children=False)
    return ticks / _CLK_TCK
