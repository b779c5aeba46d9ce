"""Streaming ingestion into the LSM run store — the memtable-flush analog.

Cassandra's write path accumulates writes in a memtable and flushes it as a
new SSTable; compaction later folds overlapping SSTables together, and that
is where the reference's deleting strategy filters rows
(DeletingCompactionStrategy.java:102-126).  The Structured Streaming
re-expression: each micro-batch IS a flush — ``foreachBatch`` appends the
batch as one new L0 run (cheap, no merge; exactly Cassandra's
flush-then-compact cost model), and the same ``maintain`` loop the batch
side uses runs every N batches with the retention keep-expression applied
during merges.

Delivery semantics: ``foreachBatch`` is at-least-once on recovery — after a
crash the last micro-batch can replay with the SAME batch id.  Runs are
named by batch id (``b<id>``), and :meth:`RunStore.append_run` treats an
already-published name as a no-op and overwrites a half-written directory
from a crashed attempt.  Run membership alone is NOT a sufficient replay
guard, though: once an interleaved ``maintain`` cycle COMPACTS ``b<id>``
away, the name leaves the live runs, and a replayed batch would re-append
it — resurrecting rows the in-merge ``keep_expr`` already convicted.  Each
store therefore keeps a stream mark, ``"app_id:batch_id"`` of the last
batch applied; batches at or below it are skipped, so the store converges
to exactly-once run content across compaction boundaries.

Batch ids are only meaningful WITHIN one logical stream: a restart from a
FRESH checkpoint resets ids to 0, and a bare ``batch_id <= mark`` guard
would then silently no-op every batch — data loss, not idempotence.  The
mark therefore carries a transaction identity (Delta's ``txnAppId`` +
``txnVersion`` pattern): by default the streaming query id Spark persists
in the checkpoint's ``metadata`` file, which is stable across restarts of
the same checkpoint and regenerates exactly when the checkpoint is wiped.
An identity mismatch FAILS LOUDLY instead of skipping.

Every store-backed drain in this package runs that protocol through one
helper, :func:`_drain`, and reads its mark through one parser,
:func:`_applied`.  A run store keeps the mark in its commit record:
:func:`stream_to_runstore` and :func:`stream_counter_deltas` set it in
the batch's own append publish (``RunStore._append``), so run and mark
land in one record swap; the corpus drain sets it by a mark-only
``RunStore._publish(mark=...)`` after the batch's last append.  A
snapshot store (the sketch tables, ``continuous_rollup``,
``streaming_apply_changelog``) keeps it under the same ``mark`` field of
its own commit record, set in the version's swap,
``SnapshotStore.commit(tag="app_id:batch_id")``, so "state merged" and
"batch recorded" are one atomic rename.  :func:`_drain` reads the mark
from the store it is given, whichever kind it is.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from cassandra_util_spark.sources.runs import RunStore, maintain


def run_name_for_batch(batch_id: int) -> str:
    """Deterministic run name for a micro-batch — the idempotence key."""
    return f"b{batch_id:010d}"


def resolve_txn_app_id(checkpoint_dir: str, fallback: str) -> str:
    """Stable identity for the logical stream writing through a checkpoint.

    Structured Streaming persists the query id in ``<checkpoint>/metadata``
    (JSON, key ``id``) at start; it survives restarts of the same
    checkpoint and is regenerated iff the checkpoint is wiped or replaced —
    exactly the lifetime a replay guard's identity needs.  Resolved lazily
    INSIDE the first micro-batch (the file exists by then).  ``fallback``
    covers non-local checkpoints this process can't read directly.
    """
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            qid = json.load(f).get("id")
        if qid:
            return str(qid)
    except (OSError, ValueError):
        pass
    return fallback


def _applied(root: str, tag: Optional[str], app_id: str) -> int:
    """Last batch id the stream ``app_id`` applied to the store at ``root``,
    read from its mark ``tag`` (``"app_id:batch_id"``; -1 when None).

    Raises when another stream wrote the mark: a DIFFERENT stream's ids are
    incomparable with ours, and batch 0 of a fresh checkpoint would read as
    "already applied", so the guard would silently drop every batch.  Also
    raises on an unparsable tag: reading it as "never applied" would
    re-apply a replay and double-count additive state.  A bare-integer tag
    carries no identity and is adopted."""
    if tag is None:
        return -1
    stored_app, _, version = tag.rpartition(":")
    if stored_app and stored_app != app_id:
        raise RuntimeError(
            f"store {root} was written by stream {stored_app!r}; this "
            f"stream is {app_id!r} — refusing to compare batch ids across "
            "streams. Restart from that stream's checkpoint to continue "
            "it; drains that take txn_app_id can instead continue its "
            f"sequence deliberately with txn_app_id={stored_app!r}."
        )
    try:
        return int(version)
    except ValueError:
        raise RuntimeError(
            f"store {root} has a foreign mark {tag!r} — not the drains' "
            "'app_id:batch_id' protocol; treating it as 'never applied' "
            "would double-count on replay."
        ) from None


def applied_txn_app_id(store: RunStore) -> Optional[str]:
    """Transaction identity recorded with ``store``'s mark (None if none)."""
    mark = store._record()["mark"]
    return (mark or "").rpartition(":")[0] or None


def applied_batch_hwm(store: RunStore) -> int:
    """Highest micro-batch id already applied to ``store`` (-1 if none)."""
    return _applied(store.root, store._record()["mark"], applied_txn_app_id(store))


def _drain(
    stream: DataFrame,
    checkpoint_dir: str,
    query_name: Optional[str],
    store,
    apply: Callable[[DataFrame, int, str], None],
    txn_app_id: Optional[str] = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start ``stream`` as an exactly-once drain into a store.

    Per micro-batch: resolve the transaction identity (``txn_app_id``, else
    the checkpoint's query id via :func:`resolve_txn_app_id`), read the
    last batch id this stream applied from the mark in ``store``'s commit
    record (a run or a snapshot store; :func:`_applied` raises when
    another stream wrote the mark), skip the batch if its id is at or
    below that, else call ``apply(batch_df, batch_id, app_id)``.  ``apply`` writes the batch and then advances the store's
    mark itself, after its last write: a crash before the mark replays the
    batch into idempotent named writes, a crash after it skips the replay
    even when compaction has since folded the batch's run away.  The guard
    is one driver-side file read; it runs no Spark job.

    ``query_name=None`` leaves the query unnamed (the identity fallback
    for unreadable checkpoints is then the checkpoint path), and
    ``available_now=True`` drains what exists then stops.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        app_id = txn_app_id or resolve_txn_app_id(
            checkpoint_dir, query_name or checkpoint_dir
        )
        if batch_id <= _applied(store.root, store._record()["mark"], app_id):
            # replay of an already-applied batch whose run compaction may
            # have folded away — re-applying would resurrect convicted rows
            # or double-count additive state
            return
        apply(batch_df, batch_id, app_id)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if query_name is not None:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_to_runstore(
    stream: DataFrame,
    store: RunStore,
    checkpoint_dir: str,
    maintain_every: Optional[int] = None,
    keep_expr: Optional[Callable[[DataFrame], DataFrame]] = None,
    strategy: str = "stcs",
    min_threshold: int = 4,
    run_target_bytes: int = 128 << 20,
    available_now: bool = True,
    query_name: str = "runstore-ingest",
    txn_app_id: Optional[str] = None,
    time_col: Optional[str] = None,
    window_us: int = 86_400_000_000,
    retention_us: Optional[int] = None,
    transform: Optional[Callable[[DataFrame, int], DataFrame]] = None,
) -> StreamingQuery:
    """Continuously flush a stream into ``store`` as L0 runs.

    ``transform(batch_df, batch_id)``, when given, maps each micro-batch
    BEFORE it is appended — inside ``foreachBatch`` the batch is a plain
    DataFrame, so aggregations are allowed (the hook that lets derived
    tables — signatures, fingerprints, per-key rollups — ride this
    function's replay guard and maintenance cadence instead of
    re-implementing them).  The transform must be deterministic per
    (batch contents, batch_id): a replayed batch re-derives the same run,
    which the idempotent named append then no-ops.

    ``strategy="twcs"`` (requires ``time_col``) is the time-series
    production shape: maintenance compacts each closed time window with
    its contemporaries, and with ``retention_us`` set the expiry cutoff
    TRACKS EVENT TIME — each cycle computes ``max(time_col over run
    stats) − retention_us`` from the per-run skip index (driver-side
    metadata, no scan) and drops fully-aged windows record-only.  The
    whole retention life-cycle of an old window is therefore one pointer
    swap, never a rewrite — Cassandra's TWCS + fully-expired-sstable drop
    under the reference's deleting wrapper.

    ``txn_app_id`` names the logical stream for the replay guard (default:
    the checkpoint's persisted query id via :func:`resolve_txn_app_id`).
    Pass it explicitly to let a REPLACEMENT stream (fresh checkpoint)
    intentionally continue an existing store's id sequence; otherwise a
    fresh checkpoint against a written store raises instead of silently
    skipping every batch.

    ``maintain_every=N`` interleaves a maintenance cycle after every N-th
    micro-batch (strategy/threshold/target forwarded to
    :func:`~cassandra_util_spark.sources.runs.maintain`, with ``keep_expr``
    as the in-merge retention hook) — write amplification happens in the
    background cadence the operator chose, never on the ingest hot path's
    every batch.  ``available_now=True`` drains what exists then stops (the
    test/backfill trigger); ``False`` runs continuously.

    Scale shape: the per-batch work is one clustered parquet write, whose
    stats come from its footers with no job — no merge, no read of
    existing runs.
    Compaction cost is bounded per cycle by the strategy's plan (one
    bucket / one victim job at a time), so ingest latency stays flat as
    the store grows.
    """
    if maintain_every is not None and maintain_every < 1:
        raise ValueError(f"maintain_every must be >= 1, got {maintain_every}")
    if strategy == "twcs" and time_col is None:
        raise ValueError("strategy='twcs' requires time_col")

    def _event_time_cutoff() -> Optional[int]:
        if retention_us is None:
            return None
        highs = [
            s["max"]
            for s in (
                (st.get("columns") or {}).get(time_col)
                for st in store.run_stats().values()
            )
            if s is not None and isinstance(s.get("max"), int)
        ]
        return max(highs) - retention_us if highs else None

    def apply(batch_df: DataFrame, batch_id: int, app_id: str) -> None:
        if transform is not None:
            batch_df = transform(batch_df, batch_id)
        # run and mark commit in one record swap, BEFORE maintenance: a
        # crash before it replays into a fresh named append, a crash after
        # it skips the replay outright, compacted or not
        store._append(batch_df, run_name_for_batch(batch_id), f"{app_id}:{batch_id}")
        if maintain_every is not None and (batch_id + 1) % maintain_every == 0:
            maintain(
                store,
                batch_df.sparkSession,
                keep_expr=keep_expr,
                strategy=strategy,
                min_threshold=min_threshold,
                run_target_bytes=run_target_bytes,
                vacuum_min_age_s=0.0,
                time_col=time_col,
                window_us=window_us,
                expire_before=_event_time_cutoff(),
            )

    return _drain(
        stream, checkpoint_dir, query_name, store, apply, txn_app_id, available_now
    )


def stream_counter_deltas(
    stream: DataFrame,
    counters,
    checkpoint_dir: str,
    compact_every: Optional[int] = None,
    available_now: bool = True,
    query_name: str = "counter-delta-ingest",
    txn_app_id: Optional[str] = None,
    transform=None,
) -> StreamingQuery:
    """Continuously fold a stream of counter INCREMENTS into a
    :class:`~cassandra_util_spark.operators.counters.CounterStore`.

    Each micro-batch appends one additive delta run — the streaming face
    of the multi-writer counter path (reference: Cassandra counter batches
    ship deltas merged server-side, CQLBatch.scala:284-336; here the merge
    happens at read/compact time).  ``transform(batch_df, batch_id)``, when
    given, derives the increments from the raw batch (the
    :func:`stream_to_runstore` hook, same contract: a pure function of the
    batch content and parameters, so a replayed batch re-derives the same
    delta).  Otherwise the batch DataFrame must already carry
    the store's key and counter columns (pre-aggregate in the stream if
    the raw events need rolling up first).

    Exactly-once under at-least-once replay uses BOTH run-store guards:
    the run name is the batch id (a replay of a live run is the append's
    no-op) and the store's mark (txn identity + batch id in its commit
    record, same protocol as :func:`stream_to_runstore`) skips replays
    whose run a compaction
    already FOLDED AWAY — for counters that replay would not merely
    resurrect rows, it would double-count every increment in the batch,
    the failure additive state cannot absorb.

    ``compact_every=N`` folds the live delta runs after every N-th batch;
    addition's associativity makes the fold invisible to ``totals()``, so
    the cadence is purely a read-amplification knob.
    """
    if compact_every is not None and compact_every < 1:
        raise ValueError(f"compact_every must be >= 1, got {compact_every}")
    store = counters.store

    def apply(batch_df: DataFrame, batch_id: int, app_id: str) -> None:
        if transform is not None:
            batch_df = transform(batch_df, batch_id)
        store._append(
            counters._delta(batch_df), run_name_for_batch(batch_id),
            f"{app_id}:{batch_id}",
        )
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            counters.compact(batch_df.sparkSession)

    return _drain(
        stream, checkpoint_dir, query_name, store, apply, txn_app_id, available_now
    )
