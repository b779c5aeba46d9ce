"""Multi-writer counter tables on the LSM run store: append-only deltas,
merge-on-read, fold-on-compact.

The reference's counter batches are increments merged SERVER-side per cell
(CQLBatch.scala:284-336): writers never read-modify-write a total, they
ship deltas, and Cassandra's counter cells absorb them; concurrent counter
batches therefore cannot lose increments.  The engine's plain counter path
(``plans/batch.py`` ``execute(kind="counter")``) is a read-modify-write
over one parquet directory, honest only under a single-writer discipline —
the caveat its docstring carries.

This module is the loss-free multi-writer re-expression on Spark files,
using the machinery an LSM already has:

- **Write = append.**  Each counter batch lands as its own DELTA RUN
  (uuid-named, so independent writers never collide; each publish
  re-reads and swaps the store's commit record under
  ``RunStore.locked()``).  No writer ever reads a total, so there is
  nothing to lose — exactly Cassandra's shape, with the "server-side
  merge" moved to read/compact time.
- **Read = merge.**  ``totals()`` unions the live delta runs and sums per
  key — ``counter_merge`` semantics, in DECIMAL(28,6) so a 1000-executor
  sum is order-independent and equals any single-node oracle.
- **Maintenance = fold.**  ``compact()`` collapses the live deltas into
  one partial-sum run.  Addition is associative and commutative, so the
  read view is INVARIANT under compaction; deltas appended concurrently
  with a compaction survive because its publish re-reads the record under
  the lock and only drops the folded inputs.

Scale shape: writes are O(batch) appends with no read of existing state
(ingest latency flat as the store grows); reads shuffle once on the
counter key, or sum in one partition with no shuffle when the deltas fit
one (the run store's size rule); compaction bounds read fan-in the same
way STCS bounds SSTable counts.
"""

from __future__ import annotations

import os
import uuid
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_util_spark.core.table import KeyedTable, TableMeta, _fits_one_partition
from cassandra_util_spark.sources.runs import RunStore, _write_files

# exact partial type: decimal addition is order-independent, and 28,6 holds
# any realistic counter without overflow (matches plans/batch.py's choice)
_DELTA_TYPE = "decimal(28,6)"


class CounterStore:
    def __init__(self, root: str, keys: Sequence[str], counters: Sequence[str]) -> None:
        if not keys or not counters:
            raise ValueError("CounterStore needs at least one key and one counter column")
        overlap = set(keys) & set(counters)
        if overlap:
            raise ValueError(f"columns cannot be both key and counter: {sorted(overlap)}")
        self.keys = list(keys)
        self.counters = list(counters)
        self.store = RunStore(root, TableMeta(tuple(keys)))

    # -- write path ---------------------------------------------------------

    def append_increments(self, df: DataFrame, name: Optional[str] = None) -> str:
        """Publish one counter batch as an additive delta run.

        ``name`` (e.g. a micro-batch id) makes retries idempotent, exactly
        like the streaming ingest path; without it a fresh uuid name keeps
        independent writers collision-free.  Deltas are cast to
        DECIMAL(28,6) at write so every run is sum-compatible with every
        other (raw long/double inputs included)."""
        return self.store.append_run(
            self._delta(df), name=name or f"c{uuid.uuid4().hex[:12]}"
        )

    def _delta(self, df: DataFrame) -> DataFrame:
        """The batch as a delta run's rows: the key columns and each
        counter cast to DECIMAL(28,6)."""
        missing = [c for c in self.keys + self.counters if c not in df.columns]
        if missing:
            raise ValueError(f"counter batch is missing columns {missing}")
        return df.select(
            *self.keys,
            *[F.col(c).cast(_DELTA_TYPE).alias(c) for c in self.counters],
        )

    # -- read path ----------------------------------------------------------

    def _sum_runs(self, spark: SparkSession, runs: Sequence[str]) -> DataFrame:
        """Per-key sums over ``runs``; deltas that fit one partition are
        coalesced to it first, so the aggregate plans no exchange."""
        dfs = self.store._scan(spark, runs)
        merged = dfs[0]
        for d in dfs[1:]:
            merged = merged.unionByName(d)
        if _fits_one_partition(merged):
            merged = merged.coalesce(1)
        return merged.groupBy(*self.keys).agg(
            *[F.sum(c).alias(c) for c in self.counters]
        )

    def totals(self, spark: SparkSession) -> DataFrame:
        """The counter table view: per-key sums over all live delta runs,
        exported as double (the engine's counter-read convention)."""
        runs = self.store.live_runs()
        if not runs:
            raise ValueError(f"counter store at {self.store.root} has no runs")
        agg = self._sum_runs(spark, runs)
        return agg.select(
            *self.keys, *[F.col(c).cast("double").alias(c) for c in self.counters]
        )

    # -- maintenance --------------------------------------------------------

    def compact(self, spark: SparkSession) -> Optional[str]:
        """Fold the current live delta runs into one partial-sum run.

        The fold keeps DECIMAL partials (still a delta — further appends
        keep summing into it on read).  Concurrent appends are safe: only
        the runs this call READ are dropped from the record, under the
        lock, so a delta published mid-compaction stays live."""
        inputs = self.store.live_runs()
        if len(inputs) < 2:
            return None
        folded = self._sum_runs(spark, inputs)
        run = f"c{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.store.root, run)
        _write_files(KeyedTable(folded, self.store.meta).clustered(), path)
        self.store._publish(add=[run], drop=inputs)
        return run
