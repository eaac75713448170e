"""Spark-free measurement helpers: percentiles, geometric mean, span self
time, metric-name validation, and /proc readers for CPU, steal and RSS.

Everything here is pure Python over numbers or /proc text, so the fast
tests in ``perfbench/tests`` cover it without a JVM.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import time
from dataclasses import dataclass, field

# A percentile is reported only when at least this many samples lie beyond
# it; below that one slow sample moves it.
MIN_SAMPLES_BEYOND = 10

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def percentile(values: list[float], pct: float) -> float:
    """The ``pct`` percentile (0 < pct < 100) of ``values``, interpolated
    between order statistics. A tail percentile (above the median) raises
    ValueError unless at least MIN_SAMPLES_BEYOND samples lie above it,
    i.e. n * (1 - pct/100) >= 10."""
    n = len(values)
    if not 0 < pct < 100 or n == 0:
        raise ValueError(f"no p{pct:g} of {n} values")
    if pct > 50 and n * (100 - pct) < MIN_SAMPLES_BEYOND * 100:
        raise ValueError(
            f"p{pct:g} needs {MIN_SAMPLES_BEYOND} samples beyond it; "
            f"{n} samples give {n * (100 - pct) / 100:.1f}"
        )
    if pct == 50 or n == 1:
        return float(statistics.median(values))
    return float(statistics.quantiles(values, n=100, method="inclusive")[round(pct) - 1])


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values, so small and large queries weigh
    equally."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    """One timed interval. ``trace`` groups the spans of one query or
    trigger; ``parent`` is the index of the enclosing span or None."""

    name: str
    start: float
    end: float
    trace: str
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store; written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, trace: str,
            parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, start, end, trace, parent, attrs))
        return len(self.spans) - 1

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """The span's duration minus the part of it its children cover."""
        s = self.spans[idx]
        return s.dur - covered(s.start, s.end,
                               [(c.start, c.end) for c in self.children(idx)])

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "trace": s.trace,
             "parent": s.parent, "self": self.self_time(i), **s.attrs}
            for i, s in enumerate(self.spans)
        ]


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# Metric names
# ---------------------------------------------------------------------------


def check_metrics(declared: list[dict], emitted: dict) -> list[str]:
    """Problems with ``emitted`` ({name: {"value", "unit"}}) against the
    declared metric list: names missing or extra, unit mismatches,
    malformed names, and values that are not finite numbers."""
    problems = []
    want = {m["name"]: m["unit"] for m in declared}
    for name in want:
        if not NAME_RE.match(name):
            problems.append(f"bad metric name {name!r}")
        if not UNIT_RE.match(want[name]):
            problems.append(f"bad unit {want[name]!r} for {name}")
    for name in sorted(set(want) - set(emitted)):
        problems.append(f"missing metric {name}")
    for name in sorted(set(emitted) - set(want)):
        problems.append(f"undeclared metric {name}")
    for name, m in emitted.items():
        if name in want and m.get("unit") != want[name]:
            problems.append(f"{name}: unit {m.get('unit')!r} != {want[name]!r}")
        v = m.get("value")
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"{name}: value {v!r} is not a finite number")
    return problems


# ---------------------------------------------------------------------------
# Host and process readers (/proc)
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def parse_cpu_line(text: str) -> tuple[int, int]:
    """(total jiffies, steal jiffies) from /proc/stat's aggregate line."""
    for line in text.splitlines():
        if line.startswith("cpu "):
            f = [int(x) for x in line.split()[1:]]
            # user nice system idle iowait irq softirq steal [guest guest_nice]
            # guest time is already inside user/nice, so count the first 8
            return sum(f[:8]), (f[7] if len(f) > 7 else 0)
    raise ValueError("no aggregate cpu line in /proc/stat")


def read_cpu_counters() -> tuple[int, int]:
    with open("/proc/stat") as f:
        return parse_cpu_line(f.read())


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def parse_stat(text: str) -> tuple[int, float]:
    """(ppid, utime+stime+cutime+cstime in seconds) from /proc/<pid>/stat.
    The command name may hold spaces, so split after its closing paren."""
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is state (field 3); ppid is field 4, utime..cstime 14..17
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    return ppid, ticks / _CLK


def _proc_stats() -> dict[int, tuple[int, float]]:
    stats: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = parse_stat(f.read())
            except (FileNotFoundError, ProcessLookupError, ValueError):
                continue
    return stats


def _tree(root: int, stats: dict[int, tuple[int, float]]) -> set[int]:
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def process_tree_cpu_s(root: int) -> float:
    """CPU seconds (user+sys, own plus reaped children) of ``root`` and
    every live descendant: the driver Python, the JVM it launched and the
    JVM's Python workers."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(root, stats) if p in stats)


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``."""
    return sorted(_tree(root, _proc_stats()) - {root})


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, 0.0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def host_probe_s(iterations: int = 3_000_000) -> float:
    """Seconds for a fixed single-thread integer loop (the single-core burn
    of tools/host_canary.py, shortened): a slow reading marks a degraded
    host before the JVM starts."""
    t0 = time.perf_counter()
    s = 0
    for i in range(iterations):
        s += i
    return time.perf_counter() - t0
