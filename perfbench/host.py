"""Host readings from /proc: CPU steal and pressure, and peak RSS of a
process tree (with a reset of that peak)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def noise(start: tuple[int, int]) -> dict:
    """Steal time since ``start`` (a ``cpu_ticks()`` reading) and the CPU
    pressure ``some avg10`` now (None where the kernel has no PSI)."""
    steal, total = cpu_ticks()
    d_steal, d_total = steal - start[0], total - start[1]
    avg10 = None
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    avg10 = float(line.split("avg10=")[1].split()[0])
    except OSError:
        pass
    return {
        "steal_s": d_steal / _TICK,
        "steal_frac": d_steal / d_total if d_total else 0.0,
        "cpu_pressure_avg10": avg10,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int | None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids, todo, out = _children(), [os.getpid() if root is None else root], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak RSS (VmHWM) of ``root`` and all its descendants: the
    Python driver, its JVM and any Python workers the JVM forked."""
    return sum(_hwm_kb(pid) for pid in _tree(root)) / 1024.0


def reset_tree_peak_rss(root: int | None = None) -> None:
    """Reset the peak RSS of ``root`` and its descendants to their current
    RSS, so a later ``tree_peak_rss_mb`` covers only what ran in between."""
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass
