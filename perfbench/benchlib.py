"""Pure helpers of the benchmark: percentiles, byte accounting, spans.

Nothing here imports Spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from typing import Callable, Iterable, Optional


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def quantile(values: Iterable[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule), 0 <= q <= 1."""
    vals = sorted(values)
    if not vals:
        raise ValueError("quantile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    pos = q * (len(vals) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> Optional[int]:
    """The highest whole percentile that has at least ``beyond`` of ``n``
    samples above it, or None when even the median has fewer.

    p qualifies when n * (100 - p) / 100 >= beyond, so 100 samples support
    p90, 200 support p95 and 19 support nothing."""
    if n <= 0:
        return None
    p = math.floor(100 - 100 * beyond / n)
    return p if p >= 50 else None


def tree_bytes(root: str) -> int:
    """Bytes of every regular file under ``root`` (0 when it is absent).
    Stores never delete superseded runs during a run, so this is the
    bytes ever written under the root."""
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def write_amp(written_bytes: int, input_bytes: int) -> float:
    """Bytes written under the store roots per byte of input parquet."""
    if input_bytes <= 0:
        raise ValueError("write amplification needs a positive input size")
    return written_bytes / input_bytes


def space_amp(live_bytes: int, merged_once_bytes: int) -> float:
    """Live store bytes per byte of the merged view written once."""
    if merged_once_bytes <= 0:
        raise ValueError("space amplification needs a positive merged size")
    return live_bytes / merged_once_bytes


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the part of it its direct children cover."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])


def lsq_slope(ys: list[float]) -> float:
    """Least-squares slope of ys against their index (0 for < 2 points)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a live process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings (guest columns excluded; 0 without ticks)."""
    d = [b - a for a, b in zip(before[:8], after[:8])]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds a live process has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans held in memory: name, start, end, parent and run id, plus the
    Spark job and stage id watermarks at both ends.  ``marks`` returns
    (next job id, next stage id); jobs and stages between a span's two
    marks ran inside it, because the benchmark is a single client."""

    def __init__(
        self,
        run_id: str,
        marks: Callable[[], tuple[int, int]] = lambda: (0, 0),
        clock: Callable[[], float] = time.perf_counter,
    ) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = False
        self._marks = marks
        self._clock = clock
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        job0, stage0 = self._marks()
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": self._clock(),
            "end": None,
            "job0": job0,
            "stage0": stage0,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = self._clock()
            s["job1"], s["stage1"] = self._marks()
