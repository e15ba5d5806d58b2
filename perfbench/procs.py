"""Process accounting from ``/proc``: CPU seconds of a process and
every process below it (the JVM Spark starts and the Python workers the
JVM forks), and peak resident memory."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of ``root``'s tree, including descendants that
    have exited and been waited for (their time is in the parent's
    ``cutime``/``cstime``)."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat, counted after the name
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def status_kb(pid: int, key: str) -> int | None:
    """One ``kB`` field of ``/proc/<pid>/status``, e.g. ``VmHWM``."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def host_cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from the ``cpu``
    line of ``/proc/stat``; steal is time the hypervisor gave to other
    guests while this one had work."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return sum(ticks), ticks[7]


def reset_peak_rss() -> None:
    """Reset this process's ``VmHWM`` to its current resident set, so
    that a later ``VmHWM`` covers only what ran after the reset."""
    with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def find_java(root: int) -> int | None:
    """The JVM below ``root`` (the local-mode Spark driver)."""
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None
