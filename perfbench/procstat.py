"""CPU time and peak memory of this process's descendants, read from /proc.

The JVM is a child of the benchmark process and the Python workers are
children of the JVM's worker daemon, so the process tree below the
benchmark is the whole cost of a local-mode job. Every reader returns
``None`` ("absent") instead of raising when /proc or a process is gone.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.find("(") + 1 : raw.rfind(")")]
    fields = raw[raw.rfind(")") + 2 :].split()
    # fields[1] is ppid; utime, stime, cutime, cstime are fields 11..14.
    # A reaped child's time moves into its parent's cutime/cstime, so
    # summing all four over the live tree counts every process once.
    cpu = sum(int(v) for v in fields[11:15]) / _TICK
    return comm, int(fields[1]), cpu


def descendants(root: int | None = None) -> dict[int, tuple[str, int, float]]:
    """Live descendants of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    try:
        pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return {}
    stats = {}
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            stats[pid] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def _is_jvm(comm: str) -> bool:
    return comm == "java"


def _is_python(comm: str) -> bool:
    return comm.startswith("python")


def cpu_split(root: int | None = None) -> dict[str, float] | None:
    """CPU seconds so far of the JVM and of the Python workers below it."""
    tree = descendants(root)
    if not tree:
        return None
    jvm = sum(cpu for comm, _, cpu in tree.values() if _is_jvm(comm))
    py = sum(cpu for comm, _, cpu in tree.values() if _is_python(comm))
    return {"jvm": jvm, "python": py}


def _vm_hwm_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def peak_rss_mb(root: int | None = None) -> dict[str, float] | None:
    """Largest ``VmHWM`` (kernel high-water RSS) of the JVM and of any one
    Python worker below it."""
    tree = descendants(root)
    jvm = [_vm_hwm_mb(p) for p, (c, _, _) in tree.items() if _is_jvm(c)]
    py = [_vm_hwm_mb(p) for p, (c, _, _) in tree.items() if _is_python(c)]
    jvm = [v for v in jvm if v is not None]
    py = [v for v in py if v is not None]
    if not jvm and not py:
        return None
    return {"jvm": max(jvm, default=None), "python": max(py, default=None)}
