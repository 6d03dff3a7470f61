"""Host-state stamps and process-tree resource readings from /proc."""

from __future__ import annotations

import os
import time

import numpy as np

_CLK = os.sysconf("SC_CLK_TCK")


def cpu_counters() -> tuple[int, int]:
    """(total jiffies, steal jiffies) of the aggregate cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def sentinel_ms(reps: int = 5) -> float:
    """Median wall time of a fixed pure-numpy job; code that never changes,
    so a slow reading marks a hot host window, not a regression."""
    rng = np.random.default_rng(12345)
    a = rng.random(400_000)
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        np.sort(a).cumsum().sum()
        times.append((time.perf_counter() - t) * 1e3)
    return float(sorted(times)[reps // 2])


def stamp() -> dict:
    total, steal = cpu_counters()
    return {
        "time": time.time(),
        "loadavg_1m": loadavg_1m(),
        "cpu_total": total,
        "cpu_steal": steal,
    }


def steal_pct(before: dict, after: dict) -> float:
    dt = after["cpu_total"] - before["cpu_total"]
    return 100.0 * (after["cpu_steal"] - before["cpu_steal"]) / dt if dt > 0 else 0.0


def _proc_table() -> dict[int, tuple[int, float, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children, peak RSS MB)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
            hwm_kb = 0
            with open(f"/proc/{name}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm_kb = int(line.split()[1])
                        break
        except OSError:  # process exited while scanning
            continue
        # comm may hold spaces/parens; fields restart after the last ')'
        rest = raw[raw.rindex(")") + 2 :].split()
        ppid = int(rest[1])
        cpu = sum(int(x) for x in rest[11:15]) / _CLK
        out[int(name)] = (ppid, cpu, hwm_kb / 1024.0)
    return out


def _descendants(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int | None = None) -> tuple[float, float]:
    """(CPU seconds, summed peak RSS MB) of this process and every
    descendant: the Spark JVM it launched and that JVM's Python workers.
    CPU counts utime+stime plus reaped children's, so workers that exited
    still count through their parent."""
    table = _proc_table()
    pids = _descendants(table, os.getpid() if root is None else root)
    present = [table[p] for p in pids if p in table]
    return sum(c for _, c, _ in present), sum(r for _, _, r in present)


def descendants_alive() -> list[int]:
    """Live processes under this one (exited ones reparent away)."""
    table = _proc_table()
    return [p for p in _descendants(table, os.getpid()) if p != os.getpid()]
