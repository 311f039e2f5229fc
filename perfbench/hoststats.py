"""Statistics and host-noise probes for the benchmark.

Pure functions over plain numbers plus small readers of ``/proc``. No
engine import, so the benchmark's own tests exercise them directly.
"""

from __future__ import annotations

import math
import os

#: Runs with more CPU steal than this over the timed region are marked
#: contaminated.
MAX_STEAL_PCT = 5.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(q / 100.0 * len(ordered))
    return ordered[max(rank, 1) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``-th
    percentile."""
    return n - max(math.ceil(q / 100.0 * n), 1)


# /proc/stat ---------------------------------------------------------------
def parse_cpu_line(line: str) -> tuple[int, int]:
    """(steal, total) ticks from the aggregate ``cpu`` line.

    The total sums only user..steal (the first eight fields). Linux
    already counts guest and guest_nice inside user and nice, so adding
    them again would inflate the total and understate steal."""
    fields = line.split()
    if not fields or fields[0] != "cpu":
        raise ValueError(f"not the aggregate cpu line: {line!r}")
    vals = [int(v) for v in fields[1:9]]
    vals += [0] * (8 - len(vals))
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Percent of CPU ticks stolen by the hypervisor between samples."""
    d_steal = after[0] - before[0]
    d_total = after[1] - before[1]
    return 100.0 * d_steal / d_total if d_total > 0 else 0.0


def read_cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        return parse_cpu_line(f.readline())


def load_avg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# process tree -------------------------------------------------------------
def _ppid_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses; ppid follows the last ')'
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> set[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = {root}, [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in seen:
                seen.add(c)
                todo.append(c)
    return seen


#: Thread names (``comm``, cut to 15 bytes) of HotSpot's JIT compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(path: str, children: bool) -> int:
    """utime + stime (and cutime + cstime) from a ``stat`` file: fields
    14-17 of proc(5); comm may hold spaces, so split after the last ')'."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(v) for v in fields[11 : 15 if children else 13])


def tree_cpu_s(root: int) -> tuple[float, dict[int, float]]:
    """CPU seconds (user + system) used so far by ``root`` and every
    live process below it, including the children they have reaped, and
    the CPU seconds of each live JIT compiler thread by thread id. Time
    the hypervisor steals is not charged to any process."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    jit: dict[int, float] = {}
    for pid in descendants(root):
        total += _stat_ticks(f"/proc/{pid}/stat", children=True)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                jit[int(tid)] = _stat_ticks(f"/proc/{pid}/task/{tid}/stat", False) / hz
    return total / hz, jit


def cpu_delta_s(before, after) -> tuple[float, float]:
    """(all CPU, JIT compiler CPU) between two ``tree_cpu_s`` samples. A
    compiler thread that exited in between counts as JIT only up to the
    first sample."""
    jit = sum(v - before[1].get(tid, 0.0) for tid, v in after[1].items())
    return after[0] - before[0], jit


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def competing_jvms(own: set[int]) -> int:
    """Java processes on the host that this benchmark did not start."""
    n = 0
    for pid in _ppid_map():
        if pid in own:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    n += 1
        except OSError:
            continue
    return n


class PeakRss:
    """Sum over the benchmark's process tree of each process's own
    high-water RSS (``VmHWM``). Processes that exit keep the last value
    seen, so short-lived Python workers still count."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.hwm_kb: dict[int, int] = {}
        self.comm: dict[int, str] = {}

    def sample(self) -> None:
        for pid in descendants(self.root):
            kb = _status_kb(pid, "VmHWM")
            if kb > self.hwm_kb.get(pid, 0):
                self.hwm_kb[pid] = kb
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        self.comm[pid] = f.read().strip()
                except OSError:
                    pass

    def by_command(self) -> dict[str, float]:
        """Peak MB summed per command name (python3, java, ...)."""
        out: dict[str, float] = {}
        for pid, kb in self.hwm_kb.items():
            name = self.comm.get(pid, "?")
            out[name] = out.get(name, 0.0) + kb / 1024.0
        return out

    @property
    def mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0
