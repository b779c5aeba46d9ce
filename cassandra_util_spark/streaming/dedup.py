"""Streaming near-dup index maintenance: each micro-batch of documents
contributes its MinHash signatures to a persisted RunStore index that
incremental dedup probes WITHOUT ever re-reading historical content.

This closes the loop `lsh_dedup_against`'s docstring promises ("at
warehouse scale the reference side's signature table is the PERSISTED
index an incremental crawl pipeline maintains"): the index is now a real
store with the run store's full discipline —

- **idempotent ingest**: signatures ride :func:`stream_to_runstore`'s
  per-batch transform hook, so the replay guard (the txn identity and
  last applied batch id in the store's commit record) and the locked
  record publish apply unchanged; an at-least-once `foreachBatch`
  replay re-derives the same run name and no-ops instead of
  double-indexing;
- **LWW on re-crawl**: the store merges on ``id`` by ``writetime`` (the
  micro-batch id — monotone within one logical stream), so a re-crawled
  document's newer signature REPLACES the stale one at read time and
  compaction folds the loser away;
- **bounded rows**: one row per document, ``num_perm`` bigints per row,
  regardless of document size — the probe never touches content.

Signature determinism (`minhash_signatures` is a pure function of the
text and the shared parameter family) is what makes the replayed-batch
no-op SAFE, and is pinned by the bit-identical batch-vs-streaming test.

Reference anchor: incremental per-sstable summaries maintained at flush
time (SSTableReader estimated-keys / key-range metadata) rather than
recomputed at read time; ``CassandraTableScanRDD``-style readers consult
summaries first.  The streaming CM/HLL maintenance in
``streaming/sketches.py`` is the same pattern for ALGEBRAIC state; this
module covers the per-key (non-mergeable, LWW) state the signature
index needs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cassandra_util_spark.operators.dedup import minhash_signatures
from cassandra_util_spark.sources.runs import RunStore
from cassandra_util_spark.streaming.ingest import stream_to_runstore

#: the store layout stream_lsh_index writes and lsh_dedup_from_store reads:
#: one row per document id, LWW by micro-batch id.
LSH_INDEX_KEYS = ("id",)
LSH_INDEX_WRITETIME = "writetime"


def stream_lsh_index(
    stream: DataFrame,
    store: RunStore,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    hash_fn: str = "portable",
    maintain_every: Optional[int] = None,
    min_threshold: int = 4,
    available_now: bool = True,
    query_name: str = "lsh-index-ingest",
    txn_app_id: Optional[str] = None,
) -> StreamingQuery:
    """Maintain a persisted MinHash signature index over a document stream.

    Per micro-batch: one signature build over the batch's documents (the
    explode→groupBy(min×num_perm) single-shuffle form), one clustered run
    append and a mark publish under the record lock — identical replay and
    maintenance semantics to :func:`stream_to_runstore` because it IS
    stream_to_runstore with a signature transform.  ``maintain_every=N``
    interleaves compaction so a long-running crawl's index stays at a
    bounded run count with stale re-crawl signatures folded out.

    The ``writetime`` column is the micro-batch id: monotone within the
    logical stream, so LWW keeps the NEWEST signature per document id
    across re-crawls, and deterministic on replay (a replayed batch
    carries the same id, so the re-derived run is byte-stable where the
    idempotent named append expects it).

    The store's ``meta`` must key on ``id`` with writetime ``writetime``
    (:data:`LSH_INDEX_KEYS` / :data:`LSH_INDEX_WRITETIME`); probing is
    :func:`~cassandra_util_spark.operators.dedup.lsh_dedup_from_store`.
    """
    if store.meta.partition_keys != LSH_INDEX_KEYS or (
        store.meta.writetime_col != LSH_INDEX_WRITETIME
    ):
        raise ValueError(
            "stream_lsh_index stores are keyed on ('id',) with writetime "
            f"'writetime'; got keys={store.meta.partition_keys} "
            f"writetime={store.meta.writetime_col}"
        )

    def to_signatures(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return minhash_signatures(
            batch_df, id_col, text_col, n, num_perm, hash_fn
        ).withColumn("writetime", F.lit(batch_id).cast("long"))

    return stream_to_runstore(
        stream,
        store,
        checkpoint_dir,
        maintain_every=maintain_every,
        min_threshold=min_threshold,
        available_now=available_now,
        query_name=query_name,
        txn_app_id=txn_app_id,
        transform=to_signatures,
    )


def stream_token_span_index(
    stream: DataFrame,
    counters,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    n: int = 8,
    hash_grams: bool = False,
    compact_every: Optional[int] = None,
    available_now: bool = True,
    query_name: str = "token-span-index-ingest",
    txn_app_id: Optional[str] = None,
):
    """Maintain a persisted GRAM-COUNT index over a document stream — the
    state behind incremental token-granular span excision
    (:func:`~cassandra_util_spark.operators.dedup.token_spans_from_store`).

    Gram occurrence counts are ALGEBRAIC (they merge by summation), so
    the index is a :class:`~cassandra_util_spark.operators.counters.CounterStore`
    rather than an LWW signature store: each micro-batch contributes one
    additive delta run of its combiner-reduced gram counts
    (:func:`~cassandra_util_spark.operators.dedup.gram_count_deltas` —
    a pure function of batch content and parameters, so a replayed batch
    re-derives the same delta and the counter mark guard's no-op is safe),
    and a gram duplicated ACROSS batches — once in Monday's shard, once
    in Friday's — counts as duplicated exactly like a same-shard repeat:
    probing the full ingested corpus is bit-equal to the batch operator
    (hash-certified, `token_spans_streaming_view`).

    ``compact_every=N`` folds delta runs on the usual counter cadence
    (read-invariant); ``hash_grams=True`` stores 8-byte xxhash64 words
    instead of gram text — the production index layout (2.8× fewer
    shuffle/store bytes, the `dedup_token_spans_fast` trade).

    Store layout: keys ``("g",)``, counter ``("c",)``."""
    if list(counters.keys) != ["g"] or list(counters.counters) != ["c"]:
        raise ValueError(
            "token-span stores are keyed ('g',) with counter ('c',); got "
            f"keys={counters.keys} counters={counters.counters}"
        )
    from cassandra_util_spark.operators.dedup import gram_count_deltas
    from cassandra_util_spark.streaming.ingest import stream_counter_deltas

    def to_gram_counts(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return gram_count_deltas(batch_df, id_col, text_col, n, hash_grams)

    return stream_counter_deltas(
        stream,
        counters,
        checkpoint_dir,
        compact_every=compact_every,
        available_now=available_now,
        query_name=query_name,
        txn_app_id=txn_app_id,
        transform=to_gram_counts,
    )
