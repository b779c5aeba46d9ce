"""Metrics + tracing hooks — the CQLMetrics / CQLTracer analog
(cql-wrapper ``CQLSession.scala:105-164``, ``CQLTracer.scala:11-19``,
``CallbackTracer.scala:12-36``).

Spark-side equivalents:
- per-action timers and success/failure counters via ``Tracer.trace``, a
  context manager the caller wraps around each engine action (nothing here
  registers a Spark listener);
- in-plan row counters via ``DataFrame.observe`` (the kept/dropped counters
  of ``FilteringSSTableScanner``) — zero extra passes;
- statement classification (query class / table extraction for metric names)
  via the same regex approach the reference uses
  (``CQLStatement.scala:42-47,93-107``).
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_QUERY_CLASS = re.compile(
    r"^\s*(select|insert|update|delete|truncate|create|alter|drop)\b", re.IGNORECASE
)
_TABLE_REF = re.compile(
    r"\b(?:from|into|update|table)\s+([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)",
    re.IGNORECASE,
)


def query_class(sql: str) -> str:
    m = _QUERY_CLASS.match(sql)
    return m.group(1).lower() if m else "other"


def table_ref(sql: str) -> Optional[str]:
    m = _TABLE_REF.search(sql)
    return m.group(1).lower() if m else None


@dataclass
class MetricsRegistry:
    """Counters + timers keyed by metric name (the tracker registry)."""

    counters: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    timers: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    reports: list[dict[str, Any]] = field(default_factory=list)

    def report(self, payload: dict[str, Any]) -> None:
        self.reports.append(payload)

    def incr(self, name: str, n: int = 1) -> None:
        self.counters[name] += n

    def time(self, name: str, seconds: float) -> None:
        self.timers[name].append(seconds)

    def timer_stats(self, name: str) -> dict[str, float]:
        vals = self.timers.get(name, [])
        if not vals:
            return {"count": 0}
        return {
            "count": len(vals),
            "total_s": sum(vals),
            "mean_s": sum(vals) / len(vals),
            "max_s": max(vals),
        }


class Tracer:
    """Wraps any engine action in a user callback pair — the CallbackTracer.

    >>> with tracer.trace("retention.run"):
    ...     job.run()
    """

    def __init__(self, registry: MetricsRegistry, on_complete: Optional[Callable[[str, float, Optional[BaseException]], None]] = None):
        self.registry = registry
        self.on_complete = on_complete

    def trace(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.t0 = time.monotonic()
                tracer.registry.incr(f"{name}.outstanding")
                return self

            def __exit__(self, exc_type, exc, tb):
                dt = time.monotonic() - self.t0
                tracer.registry.counters[f"{name}.outstanding"] -= 1
                tracer.registry.time(f"{name}.exec_s", dt)
                tracer.registry.incr(f"{name}.{'failure' if exc else 'success'}")
                if tracer.on_complete:
                    tracer.on_complete(name, dt, exc)
                return False

        return _Ctx()


class StatusReporter:
    """Interval progress reporting during a long action — the
    ``dcs_status_report_ms`` analog (``FilteringSSTableScanner.java:333-373``
    logs kept/dropped counts and rates at a fixed interval mid-scan).

    A daemon thread polls the SparkContext status tracker every
    ``interval_ms`` and records a report (elapsed seconds, active stages,
    completed/total task counts) into ``registry.reports`` plus a
    ``{name}.reports`` counter; ``on_report`` receives each payload for log
    lines.  A final report is always emitted on exit, so even a run shorter
    than the interval records its progress exactly once.

    Polling the status tracker is driver-local and O(active stages) — it
    costs the executors nothing, which is what makes an aggressive interval
    safe on a 1000-executor job.
    """

    def __init__(
        self,
        spark,
        registry: MetricsRegistry,
        name: str = "retention",
        interval_ms: int = 10_000,
        on_report: Optional[Callable[[dict[str, Any]], None]] = None,
    ) -> None:
        self.spark = spark
        self.registry = registry
        self.name = name
        self.interval_ms = interval_ms
        self.on_report = on_report

    def _snapshot(self, final: bool) -> dict[str, Any]:
        tracker = self.spark.sparkContext.statusTracker()
        stage_ids = tracker.getActiveStageIds()
        done = total = 0
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is not None:
                done += info.numCompletedTasks
                total += info.numTasks
        return {
            "name": self.name,
            "elapsed_s": time.monotonic() - self._t0,
            "active_stages": len(stage_ids),
            "tasks_done": done,
            "tasks_total": total,
            "final": final,
        }

    def _emit(self, final: bool = False) -> None:
        payload = self._snapshot(final)
        self.registry.report(payload)
        self.registry.incr(f"{self.name}.reports")
        if self.on_report:
            self.on_report(payload)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_ms / 1000.0):
            self._emit()

    def __enter__(self) -> "StatusReporter":
        import threading

        self._t0 = time.monotonic()
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name=f"status-report-{self.name}", daemon=True
        )
        self._thread.start()
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        self._stop.set()
        self._thread.join(timeout=5)
        self._emit(final=True)
        return False


def observed_counts(df: DataFrame, keep: Column, name: str = "retention") -> tuple[DataFrame, Observation]:
    """Attach kept/convicted counters to a plan — evaluated during whatever
    action consumes the DataFrame, no extra pass (statusReport analog)."""
    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.when(keep, 1)).alias("kept"),
        F.count(F.when(~keep, 1)).alias("convicted"),
        F.count(F.lit(1)).alias("total"),
    )
    return out, obs
