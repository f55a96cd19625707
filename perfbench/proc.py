"""What the run costs the machine, read from /proc: CPU time of the
benchmark's process tree, memory high-water marks, and CPU steal."""

from __future__ import annotations

import os

TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def read_proc(path: str) -> str:
    with open(path) as f:
        return f.read()


def _stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks of the process and of its reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            raw = read_proc(f"/proc/{name}/stat")
        except OSError:  # exited meanwhile
            continue
        f = raw[raw.rindex(")") + 2:].split()  # fields from 3 (state) on
        out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds spent so far by `root` (default: this
    process) and everything under it: the JVM, its Python workers, and the
    workers that already exited (counted in their parent's reaped-children
    time). Unlike wall time it does not grow while the host runs another
    tenant on our CPUs (that time is steal)."""
    root = os.getpid() if root is None else root
    stats = _stats()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
        todo.extend(kids.get(pid, ()))
    return ticks * TICK_S


def vm_hwm_mb(pid: int | str) -> float:
    for line in read_proc(f"/proc/{pid}/status").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_vm_hwm(pid: int | str) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")  # resets VmHWM to the current RSS


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine so far."""
    vals = [int(x) for x in read_proc("/proc/stat").splitlines()[0].split()[1:]]
    return vals[7], sum(vals)
