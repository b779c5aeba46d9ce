"""Retention job: the DeletingCompactionStrategy analog as a Spark job.

Reference flow (``FilteringSSTableScanner.java:72-224``): scan sorted runs →
partition/cell predicates → dropped data to a backup sink → survivors to the
new SSTable → counters and rate logging; dry-run evaluates everything but
writes nothing; risky config degrades to dry run ("spooked").

Spark flow (everything stays in Catalyst):

    keep   = convictor.keep_expr()          # literal-folded predicate
    kept, convicted = src.filter(keep), src.filter(~keep)
    convicted → backup dir (parquet append)   [dcs_backup_dir]
    kept      → new snapshot version + atomic record swap
    counts    → df.observe() aggregates       [status report]

At 100 TB: one full scan, no shuffle (filter is map-side), writes partitioned
by the table's partition-key bucketing.  The only driver-side data is the rule
table (a few rows).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cassandra_util_spark.core.table import KeyedTable
from cassandra_util_spark.operators.convictors import Convictor
from cassandra_util_spark.sources.runs import _write_files
from cassandra_util_spark.sources.snapshots import SnapshotStore


@dataclass
class RetentionStats:
    """The reference's kept/dropped counters + rates
    (``FilteringSSTableScanner.java:59-70,333-373``)."""

    kept: int
    convicted: int
    dry_run: bool
    spooked: bool
    duration_s: float
    warnings: list[str] = field(default_factory=list)
    backup_path: Optional[str] = None
    committed_version: Optional[str] = None

    @property
    def total(self) -> int:
        return self.kept + self.convicted

    @property
    def rows_per_sec(self) -> float:
        return self.total / self.duration_s if self.duration_s > 0 else float("inf")


class RetentionJob:
    def __init__(
        self,
        table: KeyedTable,
        convictor: Convictor,
        dry_run: bool = False,
        backup_path: Optional[str] = None,
        store: Optional[SnapshotStore] = None,
        registry=None,
        status_report_ms: Optional[int] = None,
    ) -> None:
        """``status_report_ms`` + ``registry``: interval progress reports
        during the run (the ``dcs_status_report_ms`` option,
        ``FilteringSSTableScanner.java:333-373``) — see
        :class:`~cassandra_util_spark.core.metrics.StatusReporter`; end-of-run
        kept/convicted totals land in the registry counters either way."""
        table.validate()
        self.table = table
        self.convictor = convictor
        self.requested_dry_run = dry_run
        self.backup_path = backup_path
        self.store = store
        self.registry = registry
        self.status_report_ms = status_report_ms

    @property
    def effective_dry_run(self) -> bool:
        """Spooked configuration never deletes — degradation, not failure."""
        return self.requested_dry_run or self.convictor.spooked

    def plan(self) -> tuple[DataFrame, DataFrame]:
        """(kept, convicted) DataFrames — inspect/explain before running."""
        keep = self.convictor.keep_expr()
        src = self.table.df
        return src.filter(keep), src.filter(~keep)

    def run(self) -> RetentionStats:
        if self.status_report_ms is not None and self.registry is not None:
            from cassandra_util_spark.core.metrics import StatusReporter

            with StatusReporter(
                self.table.df.sparkSession,
                self.registry,
                name="retention",
                interval_ms=self.status_report_ms,
            ):
                stats = self._run()
        else:
            stats = self._run()
        if self.registry is not None:
            self.registry.incr("retention.kept", stats.kept)
            self.registry.incr("retention.convicted", stats.convicted)
            self.registry.time("retention.duration_s", stats.duration_s)
        return stats

    def _run(self) -> RetentionStats:
        start = time.monotonic()
        kept_df, convicted_df = self.plan()
        dry = self.effective_dry_run
        warnings = list(self.convictor.warnings)

        backup_written: Optional[str] = None
        committed: Optional[str] = None

        def _obs_count(obs: Observation, fallback) -> int:
            # CollectMetrics can vanish from the executed plan when an input
            # side is empty at runtime (empty-relation propagation folds the
            # node away), leaving Observation.get to assert JVM-side.  The
            # counts must stay authoritative, so fall back to recounting.
            try:
                return int(obs.get["n"])
            except Exception:
                warnings.append("observation metrics unavailable; recounted from source")
                return int(fallback())

        if dry:
            # full evaluation, no side effects: a single pass with conditional
            # counts (the dry-run counters of FilteringOnDiskAtomIterator)
            keep = self.convictor.keep_expr()
            row = (
                self.table.df.select(
                    F.count(F.when(keep, 1)).alias("kept"),
                    F.count(F.when(~keep, 1)).alias("convicted"),
                ).collect()[0]
            )
            kept_n, convicted_n = int(row["kept"]), int(row["convicted"])
        else:
            if self.backup_path:
                # backup BEFORE the rewrite: abort leaves the old snapshot
                # intact, so the commit protocol is backup → rewrite → swap
                obs_b = Observation()
                _write_files(
                    convicted_df.observe(obs_b, F.count(F.lit(1)).alias("n")),
                    self.backup_path,
                    "append",
                )
                convicted_n = _obs_count(obs_b, convicted_df.count)
                backup_written = self.backup_path
            else:
                convicted_n = convicted_df.count()

            if self.store is not None:
                obs_k = Observation()
                committed = self.store.commit(
                    kept_df.observe(obs_k, F.count(F.lit(1)).alias("n")),
                    meta=self.table.meta,
                )
                # fallback reads the just-committed version: metadata-only
                # count from parquet footers, exact by construction
                kept_n = _obs_count(
                    obs_k, lambda: self.store.read(kept_df.sparkSession).count()
                )
            else:
                kept_n = kept_df.count()

        return RetentionStats(
            kept=kept_n,
            convicted=convicted_n,
            dry_run=dry,
            spooked=self.convictor.spooked,
            duration_s=time.monotonic() - start,
            warnings=warnings,
            backup_path=backup_written,
            committed_version=committed,
        )
