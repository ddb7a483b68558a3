"""CPU time and peak memory of a process tree, read from /proc.

Linux-only and dependency-free. CPU is utime + stime of every live process
in the tree plus cutime + cstime (the CPU of children each process has
already reaped), so a Python worker that exits and is reaped by the
PySpark daemon between two samples is still counted, exactly once.
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after "(comm)": state ppid ... utime(11) stime(12) cutime cstime
    return s[s.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
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


def cpu_seconds(root: int) -> float:
    """Cumulative CPU seconds of ``root``'s process tree."""
    ticks = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK


def python_peak_rss_mb(root: int) -> float:
    """Largest VmHWM (peak resident set) among ``root``'s Python
    descendants, in MB; 0.0 when none is alive."""
    peak_kb = 0
    for pid in tree(root)[1:]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if fields.get("Name", "").strip().startswith("python") and "VmHWM" in fields:
            peak_kb = max(peak_kb, int(fields["VmHWM"].split()[0]))
    return peak_kb / 1024.0
