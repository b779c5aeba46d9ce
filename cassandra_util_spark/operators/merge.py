"""Merge operators: the compaction-merge semantics as DataFrame ops.

- last-write-wins across overlapping sorted runs (the reference's
  "handle overlapping keys" behavior, RuleBasedLateTTLConvictorSpec.scala:307-335)
- counter merge: increments combine additively on write
  (counter batches, CQLBatch.scala:284-336)

Scale notes: LWW is one shuffle on the primary key (minimum possible);
counter merge is a partial-aggregate (map-side combine) then one shuffle on
the group key — both scale linearly and AQE splits skewed keys.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cassandra_util_spark.core.table import TableMeta


def lww_merge(
    df: DataFrame,
    primary_key: Sequence[str],
    writetime_col: str,
    tiebreak: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Newest writetime per key wins.  Cassandra breaks exact-timestamp ties
    by cell value (greater wins); pass ``tiebreak`` columns to get the same
    determinism — they order descending after writetime."""
    order = [F.col(writetime_col).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = Window.partitionBy(*primary_key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _union_runs(
    runs: Sequence[DataFrame], meta: TableMeta, allow_schema_evolution: bool
) -> DataFrame:
    """The union by name that :func:`merge_snapshots` merges: strict, or
    filling columns a run lacks with nulls under ``allow_schema_evolution``
    (a run missing a KEY column fails loudly either way)."""
    if not allow_schema_evolution:
        return reduce(DataFrame.unionByName, runs)
    required = set(meta.primary_key) | (
        {meta.writetime_col} if meta.writetime_col else set()
    )
    for i, r in enumerate(runs):
        missing = required - set(r.columns)
        if missing:
            raise ValueError(
                f"run {i} is missing key column(s) {sorted(missing)}; "
                "schema evolution only covers non-key columns"
            )
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), runs)


def merge_snapshots(
    runs: Sequence[DataFrame],
    meta: TableMeta,
    tiebreak: Optional[Sequence[str]] = None,
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """Union overlapping sorted runs and collapse to the LWW view — the
    compaction merge.  Spark's multi-file scan already parallelizes the
    union; the only cost is the dedup window's distribution on the key:
    one shuffle, or none when the input already sits in one partition (the
    run store coalesces inputs that fit one partition before merging, see
    ``RunStore._merge``).

    ``allow_schema_evolution``: accept runs whose column sets differ — the
    ALTER TABLE ADD life-cycle, where runs written before the new column
    carry nulls for it (exactly Cassandra's read semantics for pre-ALTER
    SSTables).  Key columns must still exist in every run: a run missing a
    PRIMARY KEY column is corrupt, not evolved, and fails loudly.
    Default strict: an unexpected column-set mismatch usually means wrong
    inputs, not evolution."""
    unioned = _union_runs(runs, meta, allow_schema_evolution)
    if meta.writetime_col is None:
        return unioned.dropDuplicates(list(meta.primary_key))
    return lww_merge(unioned, meta.primary_key, meta.writetime_col, tiebreak)


def lww_merge_table(table, primary_key: Sequence[str], writetime_col: Optional[str]):
    """:func:`merge_snapshots`' policy over an Arrow table, the form a run
    store read served on the driver merges (``RunStore.read_merged``):
    per primary key the row with the newest writetime wins, a null
    writetime losing to any value as in Spark's descending order; with no
    writetime column one row per key is kept.  As in
    :func:`merge_snapshots` without ``tiebreak``, which of two rows with
    equal writetimes wins is undefined.  Key columns must hold no nulls."""
    import pyarrow as pa
    import pyarrow.compute as pc

    order = [(c, "ascending") for c in primary_key]
    if writetime_col:
        order.append((writetime_col, "descending"))
    table = table.take(pc.sort_indices(table, order, null_placement="at_end"))
    if table.num_rows < 2:
        return table
    # sorted on the key, a row whose key differs from the previous row's
    # is its key's first row: the winner
    new_key = reduce(
        pc.or_, (pc.not_equal(table[c][1:], table[c][:-1]) for c in primary_key)
    )
    return table.filter(pa.chunked_array([[True], *new_key.chunks], pa.bool_()))


def compact_with_tombstones(
    df: DataFrame,
    primary_key: Sequence[str],
    writetime_col: str,
    tombstone_col: str,
    gc_grace_us: int,
    now_us: int,
    tiebreak: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Compaction merge with deletion markers — the full Cassandra tombstone
    life-cycle as one window pass (delete semantics the reference's cleaners
    produce via CQL DELETE, DeletedRecordsSinkSpec.scala's
    write-then-delete round trip; purge timing mirrors ``gc_grace_seconds``).

    Per key the newest cell wins; a tombstone at the same writetime beats a
    live cell (Cassandra's delete-wins tie rule).  A winning tombstone
    suppresses the row, but the MARKER itself must survive compaction until
    ``gc_grace_us`` has passed — dropping it early would let a stale
    re-delivered run resurrect the deleted row ("zombie") — so markers newer
    than ``now_us - gc_grace_us`` are emitted with ``tombstone_col`` true,
    and only older markers are purged entirely.

    Scale: identical shape to :func:`lww_merge` — one shuffle on the primary
    key, window + filter, no extra exchange for the grace predicate (it is a
    row-local comparison).  AQE splits skewed keys.
    """
    order = [
        F.col(writetime_col).desc(),
        F.col(tombstone_col).desc(),  # delete-wins at equal writetime
        *[F.col(c).desc() for c in (tiebreak or [])],
    ]
    w = Window.partitionBy(*primary_key).orderBy(*order)
    purge_horizon = int(now_us) - int(gc_grace_us)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        # live winners always survive; tombstone winners survive only inside
        # the grace window (marker retention), then purge
        .filter(
            (~F.col(tombstone_col))
            | (F.col(writetime_col) >= F.lit(purge_horizon))
        )
    )


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    primary_key: Sequence[str],
    writetime_col: str,
    op_col: str,
    tiebreak: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Apply a CDC changelog (upserts + deletes) onto a base snapshot — the
    MERGE INTO / mutation-apply surface of the reference's write path
    (CQLBatch INSERT ... USING TIMESTAMP plus DELETE, CQLBatch.scala:284-336)
    as one declarative pass.

    ``changes[op_col]`` is ``'U'`` (upsert) or ``'D'`` (delete); base rows are
    implicit upserts at their own writetime.  The newest mutation per key
    wins, a delete beating an upsert at the same writetime, and keys whose
    winner is a delete vanish from the output (changelog deletes need no
    grace period: the log is authoritative, unlike compaction's possibly
    re-delivered runs — use :func:`compact_with_tombstones` there).

    Scale: union is free (multi-source scan), then exactly one shuffle on the
    primary key.  Columns present in ``base`` but not ``changes`` (or vice
    versa) raise in unionByName rather than silently nulling.
    """
    base_tagged = base.withColumn(op_col, F.lit("U"))
    merged = base_tagged.unionByName(changes)
    is_delete = (F.col(op_col) == "D").alias("__del")
    order = [
        F.col(writetime_col).desc(),
        is_delete.desc(),
        *[F.col(c).desc() for c in (tiebreak or [])],
    ]
    w = Window.partitionBy(*primary_key).orderBy(*order)
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != "D"))
        .drop("__rn", op_col)
    )


def counter_merge(
    df: DataFrame,
    keys: Sequence[str],
    counters: Sequence[str],
    exact: bool = True,
) -> DataFrame:
    """Merge counter increments: sum of deltas per key.

    ``exact=True`` sums in DECIMAL(28,6) — float summation is
    order-dependent and a 1000-executor plan must produce the same total
    every run (and match any external oracle)."""
    aggs = []
    for c in counters:
        col = F.col(c).cast("decimal(28,6)") if exact else F.col(c)
        aggs.append(F.sum(col).alias(f"{c}_total"))
    aggs.append(F.count(F.lit(1)).alias("merge_count"))
    return df.groupBy(*keys).agg(*aggs)


def merge_rollups(
    parts: Sequence[DataFrame],
    keys: Sequence[str],
    spec: dict,
) -> DataFrame:
    """Incremental rollup maintenance: merge any number of PARTIAL-aggregate
    tables (a persisted rollup plus one or more delta batches) into the
    rollup of their union — without touching the raw rows that produced
    them.

    ``spec`` maps each measure column to its merge law: ``"sum"`` (also the
    law for counts — counts merge by addition), ``"min"``, or ``"max"``.
    Only algebraic aggregates with commutative, associative merge laws are
    accepted; that closure property is exactly why the result equals a
    from-scratch aggregation of all underlying rows (the oracle re-derives
    it that way in ``events_incremental_rollup``).

    The 100 TB shape: a day's delta re-aggregates alone (touching only the
    new data), then merges with the persisted rollup in one
    ``union → groupBy(keys)`` whose input is two ROLLUP-sized tables, not
    the raw history — the same partial/final split Spark's own hash
    aggregate performs inside a job, made durable across jobs.  Sum
    measures should arrive as DECIMAL partials (see :func:`counter_merge`):
    decimal addition is order-independent, so the merged rollup is
    bit-identical however the batches were split.  Reference anchor: the
    kept/dropped counters the reference accumulates per scan and folds
    across sstables (DeletingCompactionStrategy's observed counts).
    """
    allowed = {"sum", "min", "max"}
    bad = {k: v for k, v in spec.items() if v not in allowed}
    if bad:
        raise ValueError(
            f"unsupported merge law(s) {bad}; only {sorted(allowed)} merge "
            "losslessly from partials"
        )
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    aggs = [getattr(F, law)(F.col(c)).alias(c) for c, law in spec.items()]
    return unioned.groupBy(*keys).agg(*aggs)
