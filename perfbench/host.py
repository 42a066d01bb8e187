"""Host-contention record and process memory, read from /proc.

The record is kept beside every run's metrics and never used to rescale
one: a metric is reported as measured, and the record says how busy the
host was while it was measured.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_fields() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    # The command name may hold spaces; fields resume after its ")".
    return text[text.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live process ids below ``root`` (not including it)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _proc_stat(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root``, its live descendants and the
    children each has reaped."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        fields = _proc_stat(pid)
        if fields:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each process."""
    kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
        except OSError:
            continue
    return kib / 1024.0


class Contention:
    """Host load over an interval: call ``start()`` then ``stop()``."""

    def start(self) -> None:
        self._cpu0 = _cpu_fields()
        self._tree0 = _tree_cpu_s(os.getpid())
        self._load0 = os.getloadavg()

    def stop(self) -> dict:
        cpu1 = _cpu_fields()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        # user nice system idle iowait irq softirq steal [guest ...]
        total = sum(delta[:8]) or 1
        busy_s = (total - delta[3] - delta[4]) / _TICK
        ours_s = _tree_cpu_s(os.getpid()) - self._tree0
        return {
            "cpus": len(os.sched_getaffinity(0)),
            "loadavg_start": [round(x, 2) for x in self._load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_frac": round(delta[7] / total, 4) if len(delta) > 7 else 0.0,
            "busy_cpu_s": round(busy_s, 2),
            "own_cpu_s": round(ours_s, 2),
            "other_cpu_s": round(max(0.0, busy_s - ours_s), 2),
            "interval_s": round(total / _TICK / len(os.sched_getaffinity(0)), 2),
        }
