"""Streaming sketch maintenance: fold each micro-batch's Count-Min sketch
into a persisted sketch table — the mergeability story of
``operators.sketches`` made real on a stream.

This is the 100 TB frequency pattern: the raw stream is never re-scanned;
each micro-batch contributes a bounded sketch (≤ depth × width rows) that
MERGES algebraically into the persisted state by counter addition (the law
the batch operator's union-merge tests pin).  Downstream consumers read the
persisted table for point estimates (``count_min_query``), heavy-hitter
gates (``heavy_hitters_from_store``) or join-size estimates
(``cm_join_size_estimate``) without touching events at all.

Exactly-once: the replay guard of :mod:`.ingest`, with the applied
``app_id:batch_id`` riding in the snapshot store's commit record swap
(``SnapshotStore.commit(tag=...)``, the mark ``continuous_rollup`` and
``streaming_apply_changelog`` keep too).  Double-counting is the failure
it prevents here: CM counters are additive, so a replayed merge would
silently inflate every estimate — there is no LWW to absorb it.

Store growth: each micro-batch commits a new version; after a successful
commit the store is vacuumed down to ``retain_versions`` so a long-running
stream's version count — not just its per-batch compute — stays bounded.

Reference anchor: the reference keeps per-sstable key-count estimates
maintained incrementally as sstables flush (SSTableReader estimated keys);
this generalizes that to a full frequency sketch maintained per
micro-batch flush.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from typing import Optional

from cassandra_util_spark.operators.sketches import count_min_build
from cassandra_util_spark.sources.snapshots import SnapshotStore
from cassandra_util_spark.streaming.ingest import _drain


def stream_count_min_to_store(
    stream: DataFrame,
    store: SnapshotStore,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    seed: str = "cm",
    hash_fn: str = "portable",
    available_now: bool = True,
    query_name: str = "cm-sketch-ingest",
    txn_app_id: Optional[str] = None,
    retain_versions: int = 2,
) -> StreamingQuery:
    """Maintain a persisted Count-Min sketch table over a stream.

    Per micro-batch: one bounded sketch build over the batch, one
    (row, idx) counter-addition merge against the persisted table (itself
    ≤ depth × width rows — both merge inputs are sketch-sized, so the
    per-batch cost is independent of history length), one atomic snapshot
    commit carrying the batch id.  The persisted sketch after draining N
    batches is IDENTICAL to ``count_min_build`` over their union — counter
    addition is exactly how CM composes.
    """

    def apply(batch_df: DataFrame, batch_id: int, app_id: str) -> None:
        delta = count_min_build(batch_df, key_col, depth, width, seed, hash_fn)
        version = store.current_version()
        if version is not None:
            state = store.read(batch_df.sparkSession, version)
            delta = (
                state.unionByName(delta)
                .groupBy("row", "idx")
                .agg(F.sum("c").alias("c"))
            )
        store.commit(delta, tag=f"{app_id}:{batch_id}")
        store.vacuum(keep_last=retain_versions)

    return _drain(
        stream, checkpoint_dir, query_name, store, apply, txn_app_id, available_now
    )


def stream_bottomk_to_store(
    stream: DataFrame,
    store: SnapshotStore,
    checkpoint_dir: str,
    key_col: str,
    k: int = 256,
    payload: tuple = (),
    seed: Optional[str] = None,
    hash_fn: str = "portable",
    weight_col: Optional[str] = None,
    weight_form: str = "replica",
    available_now: bool = True,
    query_name: str = "bottomk-sketch-ingest",
    txn_app_id: Optional[str] = None,
    retain_versions: int = 2,
) -> StreamingQuery:
    """Maintain a persisted bottom-k (KMV) row sample over a stream — the
    distribution-shape member of the streaming sketch family.

    ``weight_col`` switches the per-batch sample (and the store's merge)
    to the WEIGHTED form (:func:`weighted_bottomk_sample` — exact integer
    Efraimidis-Spirakis priorities): a crawl stream maintaining a
    length- or quality-weighted training sample without ever rescanning
    admitted history.  Both priorities are pure per-key functions, so the
    k-vs-k merge closure is identical.

    ``weight_form="logcost"`` swaps the per-batch sampler to
    :func:`weighted_bottomk_sample_logcost` — the same E-S distribution
    at O(log²w) per row, for realistic token-count weights (10^4-10^6)
    that the replica form's guard rejects.  The two forms draw from
    DIFFERENT priority streams (replica: min of w keyed hash words;
    logcost: binary-block sqrt chain), so the form is part of the pinned
    sampler identity and a store never mixes them.

    Per micro-batch: one TakeOrderedAndProject over the batch (per-partition
    O(k) heaps), one k-vs-k merge against the persisted sample (both inputs
    sketch-sized — per-batch cost independent of history), one atomic
    snapshot commit.  Bottom-k's merge is idempotent (dropDuplicates + keep
    the k smallest absorbs a replayed batch, like HLL's register max), but
    the tag skip is kept for the one uniform exactly-once protocol.  The
    drained store is IDENTICAL to :func:`bottomk_sample` over the batches'
    union — the closure property `bottomk_shard_merge` hash-certifies.

    ``seed=None`` (the default) resolves per mode to the matching batch
    sampler's own default — ``'wbk'`` when ``weight_col`` is set
    (:func:`weighted_bottomk_sample`), else ``'bk'``
    (:func:`bottomk_sample`) — so a store built with defaults hash-matches
    a batch run with defaults in BOTH modes (ADVICE r9: a fixed ``'bk'``
    silently broke the weighted closure unless callers passed the seed).

    The resolved identity (seed, mode, hash, key/weight columns, k) is a
    field of the store's commit record: the first batch's commit sets it,
    and it is compared when the drain starts and again under the record
    lock in every batch's commit swap.  Continuing a store under a
    DIFFERENT identity raises instead of silently merging incomparable
    priorities (ADVICE r10); of two streams first-using one store, the
    first to swap wins and the other raises."""
    from cassandra_util_spark.operators.sketches import (
        bottomk_merge,
        bottomk_sample,
        weighted_bottomk_sample,
        weighted_bottomk_sample_logcost,
    )

    if weight_form not in ("replica", "logcost"):
        raise ValueError(f"unknown weight_form {weight_form!r}")
    if weight_form == "logcost" and weight_col is None:
        raise ValueError("weight_form='logcost' requires weight_col")
    if seed is None:
        seed = "wbk" if weight_col is not None else "bk"
    if weight_col is None:
        mode = "uniform"
    elif weight_form == "logcost":
        mode = "weighted_logcost"
    else:
        mode = "weighted"
    sampler_identity = {
        "kind": "bottomk",
        "mode": mode,
        "seed": seed,
        "hash_fn": hash_fn if weight_col is None else None,
        "key_col": key_col,
        "weight_col": weight_col,
        "k": k,
    }

    store._check_sampler(store._record()["sampler"], sampler_identity)

    def apply(batch_df: DataFrame, batch_id: int, app_id: str) -> None:
        if weight_col is not None:
            sampler = (
                weighted_bottomk_sample_logcost
                if weight_form == "logcost"
                else weighted_bottomk_sample
            )
            delta = sampler(batch_df, key_col, weight_col, k, payload, seed)
            pri = "pri"
        else:
            delta = bottomk_sample(batch_df, key_col, k, payload, seed, hash_fn)
            pri = "h"
        version = store.current_version()
        if version is not None:
            state = store.read(batch_df.sparkSession, version)
            delta = bottomk_merge(
                state, delta, k=k, key_col=key_col, priority_col=pri
            )
        store._commit(delta, tag=f"{app_id}:{batch_id}", sampler=sampler_identity)
        store.vacuum(keep_last=retain_versions)

    return _drain(
        stream, checkpoint_dir, query_name, store, apply, txn_app_id, available_now
    )
