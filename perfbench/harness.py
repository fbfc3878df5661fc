"""Pure-Python measurement helpers: no Spark import, so they are cheap to
test. Percentiles, span self time, process-tree CPU and memory read from
``/proc``, and the host "weather" record kept beside every run."""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")

#: Percentile levels a tail may be reported at, highest first.
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_level(n: int, beyond: int = 10) -> float | None:
    """The highest level in ``TAIL_LEVELS`` that leaves at least ``beyond``
    of ``n`` samples above its nearest-rank position, or None when even the
    median does not."""
    for pct in TAIL_LEVELS:
        if n - max(1, math.ceil(pct / 100.0 * n)) >= beyond:
            return pct
    return None


def tail(values: list[float], pct: float) -> tuple[float, int]:
    """(nearest-rank value at ``pct``, number of samples strictly beyond
    its rank)."""
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1], len(s) - rank


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float = math.nan
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its children cover.
    Children are clipped to the parent's interval, and overlapping children
    are counted once, so self time is never negative and a parent's self
    time plus its covered part equals its duration."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.span_id] = s.duration - union_length(clipped)
    return out


# -- process tree -------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rfind(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the process tree, counting children
    each process has reaped (utime + stime + cutime + cstime)."""
    ticks = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields:
            # fields[0] is state; utime..cstime are stat fields 14-17
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the live process tree."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock time at which ``pid`` (default: this process) started."""
    fields = _stat_fields(os.getpid() if pid is None else pid)
    start_ticks = int(fields[19])  # stat field 22: starttime since boot
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / CLK_TCK


def weather() -> dict:
    """Host load and cumulative steal ticks, to tell runs taken under
    contention from quiet ones."""
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"loadavg": [float(x) for x in load], "steal_ticks": int(cpu[8])}


def median(values: list[float]) -> float:
    return statistics.median(values)
