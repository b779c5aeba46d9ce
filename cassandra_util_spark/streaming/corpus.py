"""The incremental crawl pipeline: stream → quality gate → exact dedup
(within-batch and against everything ever admitted) → near-dup probe
against the maintained LSH index → admit survivors to the corpus store
and index them, one micro-batch at a time.

This is the STREAMING counterpart of `training_corpus_assembly`: where
that query re-derives the whole corpus per run, this pipeline admits
documents incrementally with per-batch cost independent of history
length — the only historical state consulted is the bounded index table
(one row per admitted doc: content digest + ``num_perm`` MinHash
bigints), never admitted CONTENT.  At 100 TB that difference is the
whole ballgame: each arriving crawl shard does one gate scan of itself,
one digest anti-join and one band-key probe against the index, and two
clustered run appends.

Admission semantics (deterministic, oracle-replayable):

1. quality gate — raw whitespace token count ≥ ``min_tokens`` (or a
   caller ``keep_expr``);
2. within-batch exact dedup — lowest id per identical text survives;
3. exact-vs-history — digest anti-join against the index (drops
   re-crawled byte-copies of anything ever admitted);
4. near-dup-vs-history — banded MinHash probe against the index
   (``est_jaccard ≥ threshold`` against ANY admitted doc drops the
   newcomer).  Within-batch NEAR-dups are deliberately not collapsed —
   both land and the next batch dedups against both, matching
   ``lsh_dedup_against``'s documented contract; run
   ``minhash_lsh_pairs`` + ``resolve_duplicates`` over the admitted
   corpus when intra-batch collapse is wanted.

Admitted docs that are too short to shingle (< n words after
normalization) carry a NULL signature in the index: they still block
exact re-crawls by digest, and a null band bucket can never join, so
they are transparent to the near-dup probe on both sides.

Exactly-once: the replay guard of :mod:`.ingest`, with the mark kept in
the corpus store's commit record; both appends are idempotent named
runs and the mark is published after both, so a replay after a crash
between the two appends re-derives byte-stable runs and no-ops on the
live corpus run.  Document ids are assumed unique across the stream —
same-id re-crawl UPDATE semantics belong to :func:`stream_lsh_index`'s
LWW index, not to an admission pipeline (an edited re-crawl is usually
a near-dup of its own predecessor and would be dropped here by rule 4).

Reference anchor: the reference's write path batches mutations and
consults per-sstable summaries before reads (CQLBatch concurrent
sub-batches; SSTableReader key-range metadata); this composes those
disciplines into the corpus-building workload the engine targets.

The encode and window drains (:func:`stream_encode`,
:func:`stream_windows`) transform a SMALL micro-batch on the driver, the
way the reference flushes a memtable as a local step on one node: a
batch whose optimized-plan size estimate (metadata only, no job) is at
most ``sources/runs.py`` ``_DRIVER_READ_BYTES`` is collected once as
Arrow, collapsed to one row per id as the Spark path does, transformed by
the Arrow twin of the Spark operator (``bpe_encode_ids_table``,
``materialize_packed_windows_table``) and appended as a local relation,
which fits one partition.  A trigger then runs two Spark jobs (the
collect and the run's write; the window drain's boundary read of a small
store is served on the driver too) and no shuffle, and it compiles no
new class: at this size compiling the Spark path's joins, windows and
aggregates costs more than running them, and the per-batch values it
inlined into generated code (the ``writetime`` literal, the boundary
read's bounds) made every trigger compile anew.
Larger batches, and batches the Arrow twins do not reproduce exactly
(null ids, texts, arrays or elements; a non-integral or negative window
id; an encode with ``merges`` or a word table over
``bpe.DRIVER_WORDS_MAX`` words), take the Spark path.  Both paths append
the same run, recorded schema included, so a replay re-derives it
whichever path it takes.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    IntegralType,
    LongType,
    StructField,
    StructType,
)

from cassandra_util_spark.operators.dedup import (
    _digest_for,
    _lsh_probe_dup_ids,
    exact_dedup,
    minhash_signatures,
)
from cassandra_util_spark.operators.text import (
    _norm_tokens,
    whitespace_token_count,
)
from cassandra_util_spark.sources.runs import RunStore, _driver_sized, maintain
from cassandra_util_spark.streaming.ingest import _drain, run_name_for_batch


def stream_corpus_ingest(
    stream: DataFrame,
    corpus_store: RunStore,
    index_store: RunStore,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 30,
    keep_expr: Optional[Callable[[DataFrame], DataFrame]] = None,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "portable",
    available_now: bool = True,
    query_name: str = "corpus-ingest",
    txn_app_id: Optional[str] = None,
    maintain_every: Optional[int] = None,
    min_threshold: int = 4,
) -> StreamingQuery:
    """Run the admission pipeline over a document stream.

    ``corpus_store`` receives the admitted documents (plus ``writetime``
    = batch id); ``index_store`` receives one (id, digest, sig,
    writetime) row per admitted doc and must be keyed on ``('id',)``
    with writetime ``'writetime'``.  ``keep_expr(batch_df) -> DataFrame``
    replaces the default token-count gate when given.

    ``maintain_every=N`` compacts BOTH stores after every N-th
    micro-batch (STCS, threshold ``min_threshold``) — without it a
    long-running crawl accretes one run per batch per store and the
    per-batch index read degrades with run count, the exact failure mode
    ``stream_to_runstore`` documents.  Admission results are unaffected:
    compaction only folds runs, and since ids are unique across the
    stream the LWW fold is a pure concatenation.
    """
    if maintain_every is not None and maintain_every < 1:
        raise ValueError(f"maintain_every must be >= 1, got {maintain_every}")
    if index_store.meta.partition_keys != ("id",) or (
        index_store.meta.writetime_col != "writetime"
    ):
        raise ValueError(
            "corpus index stores are keyed on ('id',) with writetime "
            f"'writetime'; got keys={index_store.meta.partition_keys} "
            f"writetime={index_store.meta.writetime_col}"
        )

    def apply(batch_df: DataFrame, batch_id: int, app_id: str) -> None:
        spark = batch_df.sparkSession
        kept = keep_expr(batch_df) if keep_expr is not None else batch_df.filter(
            whitespace_token_count(F.col(text_col)) >= min_tokens
        )
        kept = exact_dedup(kept, id_col, [text_col])
        idx = None
        idx_runs = index_store.live_runs()
        if idx_runs:
            # the index is read as a RAW union of its live runs, not
            # through read_merged: ids are unique across the stream (the
            # module contract above — same-id re-crawls are
            # stream_lsh_index's LWW problem, not admission's), so the
            # general view's LWW window is a pure concatenation that
            # still paid a full index shuffle EVERY batch (r18).  The
            # raw read also lets each probe column-prune its own scan —
            # the digest anti-join reads one column, the sig probe two —
            # where the old persist() materialized every column once to
            # amortize the merge that no longer exists
            idx = reduce(DataFrame.unionByName, index_store._scan(spark, idx_runs))
            kept = (
                kept.withColumn("__digest", _digest_for(kept, [text_col]))
                .join(
                    # no distinct: digests are unique per admitted doc
                    # (exact dedup gates admission), and a left_anti join
                    # is insensitive to right-side duplicates anyway —
                    # the distinct was one more full index shuffle per
                    # batch (r18)
                    idx.select(F.col("digest").alias("__digest")),
                    "__digest",
                    "left_anti",
                )
                .drop("__digest")
            )
            # computed on the exact-surviving superset and reused below for
            # the index rows (dropped candidates filter out by the id join)
            sig_new = minhash_signatures(
                kept, id_col, text_col, n, num_perm, hash_fn
            ).localCheckpoint(eager=False)
            dup_ids = _lsh_probe_dup_ids(
                sig_new, idx.select("id", "sig"), num_perm, bands, threshold, hash_fn
            )
            kept = kept.join(dup_ids, F.col(id_col) == F.col("__dup_id"), "left_anti")
        else:
            sig_new = minhash_signatures(kept, id_col, text_col, n, num_perm, hash_fn)
        # freeze the survivors once: two store appends consume them, and the
        # lineage above reads the index store's CURRENT manifest, which the
        # second append is about to advance.  LAZY (r18): the corpus append
        # — the first consumer, a full write — materializes the pin inside
        # its own job, so the admission lineage still runs exactly once but
        # the eager pin's separate pass over the survivors (one extra
        # driver-blocking job + one extra read of the pinned blocks per
        # trigger) is gone; the index append reads the pinned blocks.  On a
        # replayed batch the idempotent corpus append_run no-ops (its run
        # name is already published), so the index append is the
        # materializing consumer instead — still before the mark is
        # published and before maintenance runs.
        kept = kept.localCheckpoint(eager=False)
        corpus_store.append_run(
            kept.withColumn("writetime", F.lit(batch_id).cast("long")),
            name=run_name_for_batch(batch_id),
        )
        idx_rows = (
            kept.select(
                F.col(id_col).alias("id"),
                _digest_for(kept, [text_col]).alias("digest"),
            )
            # LEFT join: sub-n-word docs have no signature but must still
            # hold their digest slot in the index
            .join(sig_new, "id", "left")
            .withColumn("writetime", F.lit(batch_id).cast("long"))
        )
        index_store.append_run(idx_rows, name=run_name_for_batch(batch_id))
        # mark-only publish: the corpus mark must follow BOTH stores'
        # appends; a crash between them replays the batch, and the
        # published corpus run no-ops
        corpus_store._publish(mark=f"{app_id}:{batch_id}")
        if maintain_every is not None and (batch_id + 1) % maintain_every == 0:
            for store in (corpus_store, index_store):
                maintain(
                    store,
                    spark,
                    min_threshold=min_threshold,
                    vacuum_min_age_s=0.0,
                )

    return _drain(
        stream, checkpoint_dir, query_name, corpus_store, apply, txn_app_id, available_now
    )


def stream_encode(
    stream: DataFrame,
    store: RunStore,
    checkpoint_dir: str,
    words: DataFrame,
    vocab: DataFrame,
    merges=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
    merge_batch: int = 16,
    oov: str = "raise",
    maintain_every: Optional[int] = None,
    min_threshold: int = 4,
    available_now: bool = True,
    query_name: str = "bpe-encode-ingest",
    txn_app_id: Optional[str] = None,
) -> StreamingQuery:
    """Tokenize arriving documents under a FROZEN vocabulary and append
    their token-id streams to a persisted RunStore — the streaming member
    of the tokenizer family (`streaming/ann.py` is the same pattern for
    PQ codes): production pipelines tokenize shard-by-shard as a crawl
    lands, they never re-encode history, and the tokenizer model (trained
    word table + merge list + id vocab) is trained once on a bootstrap
    corpus and held fixed — retraining changes every document's stream,
    so it is an offline rebuild by construction.

    Encoding is word-local under the frozen model, so the streamed store
    converges to byte-identical contents with one batch encode over the
    same rows regardless of batch boundaries (hash-certified:
    `bpe_streaming_encode` shares `bpe_encode_ids_corpus`'s oracle).
    Per batch: the shard's out-of-vocabulary words (if ``merges`` is
    given) segment via the in-order merge replay
    (:func:`~cassandra_util_spark.operators.bpe.segment_words` —
    vocabulary-sized, map-only folds), then
    :func:`~cassandra_util_spark.operators.bpe.bpe_encode_ids` assembles
    the shard's streams; symbols outside the id vocab (unseen characters)
    map to ``unk_id``, never dropped.  ``oov="bytes"`` (requires a
    byte-fallback vocabulary and no ``merges`` — the replay combo is
    rejected as in :func:`~cassandra_util_spark.operators.bpe.bpe_encode`)
    degrades words outside the frozen word table to their UTF-8 byte
    tokens inline — the streaming half of the r16 byte-fallback contract:
    new crawl encodes against the shipped artifact without a job kill.
    The transform is a pure function
    of (batch contents, frozen model), so a replayed batch re-derives the
    same run and the idempotent named append no-ops — the
    ``stream_to_runstore`` replay guard.

    Without ``merges``, the drain collects the word → id-array map of
    :func:`~cassandra_util_spark.operators.bpe.segment_ids` once when it
    starts (when the word table holds at most ``DRIVER_WORDS_MAX``
    words), and each batch small enough for the driver (module note) is
    encoded there by
    :func:`~cassandra_util_spark.operators.bpe.bpe_encode_ids_table`:
    two Spark jobs per trigger.  With ``merges`` every batch takes the
    Spark path, whose merge replay segments unseen words.

    ``store`` must key on ``(id_col,)`` with writetime ``'writetime'``:
    LWW keeps the newest stream per document across re-deliveries."""
    from cassandra_util_spark.operators import bpe
    from cassandra_util_spark.streaming.ingest import stream_to_runstore

    if store.meta.partition_keys != (id_col,) or (
        store.meta.writetime_col != "writetime"
    ):
        raise ValueError(
            f"encode stores are keyed ({id_col!r},) with writetime "
            f"'writetime'; got keys={store.meta.partition_keys} "
            f"writetime={store.meta.writetime_col!r}"
        )
    if oov not in ("raise", "bytes"):
        raise ValueError(f"oov must be 'raise' or 'bytes', got {oov!r}")
    if oov == "bytes" and merges is not None:
        raise ValueError(
            "oov='bytes' with merges= is ambiguous — the merge replay "
            "already segments unseen words; pass the frozen word table "
            "alone for the byte-fallback shape"
        )
    # lazy pins: each materializes inside the first job that reads it (the
    # byte-block check, the driver path's map, or a Spark-path batch)
    words = words.select("word", "syms").localCheckpoint(eager=False)
    # keep `kind` when present: bpe_encode_ids' oov='bytes' validation
    # reads the byte block from it
    vcols = ["sym", "id"] + (["kind"] if "kind" in vocab.columns else [])
    vocab = vocab.select(*vcols).localCheckpoint(eager=False)
    byte_bounds = None
    if oov == "bytes":
        # fail-fast (ADVICE r16): run the byte-block/END contiguity
        # check against the checkpointed vocab NOW, matching the merges
        # check above — a vocab built without byte_fallback=True should
        # refuse at setup, not start successfully and die later as a
        # wrapped StreamingQueryException inside the first foreachBatch.
        # The bounds feed every batch's encode (the vocab is frozen), so
        # the per-trigger re-collect of the byte block is gone (r18)
        byte_bounds = bpe.byte_block_bounds(vocab)
    seg = None
    if merges is None:
        # the driver path's word -> id-array map, collected once per drain
        # from the Spark encoder's own map; a table over DRIVER_WORDS_MAX
        # words keeps every batch on the Spark path
        seg = bpe.segment_ids(words, vocab, unk_id).limit(
            bpe.DRIVER_WORDS_MAX + 1
        ).toArrow()
        if seg.num_rows > bpe.DRIVER_WORDS_MAX:
            seg = None

    def encode_small(batch_df: DataFrame, batch_id: int) -> Optional[DataFrame]:
        """``encode_batch`` on the driver (see the module note), or None
        when the batch holds a null id or text: one collect of the
        normalized words, the same per-id max-text collapse, the Arrow
        encoder and a local relation to append."""
        docs = batch_df.select(
            id_col, text_col, _norm_tokens(F.col(text_col)).alias("__words")
        ).toArrow()
        if docs[id_col].null_count or docs[text_col].null_count:
            return None
        out = bpe.bpe_encode_ids_table(
            _max_per_id(docs, id_col, text_col), id_col, "__words", seg,
            oov=oov, byte_bounds=byte_bounds,
        )
        # nullability as in the Spark path's plan, so both write the same
        # parquet columns (a nullable column stores definition levels)
        schema = StructType([
            batch_df.schema[id_col],
            StructField("token_ids", ArrayType(IntegerType()), nullable=False),
            StructField("n_tokens", LongType(), nullable=False),
            StructField("writetime", LongType(), nullable=False),
        ])
        return batch_df.sparkSession.createDataFrame(
            _with_writetime(out, batch_id), schema=schema
        )

    def encode_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        if seg is not None and _driver_sized(batch_df):
            small = encode_small(batch_df, batch_id)
            if small is not None:
                return small
        # Intra-batch dedup (the streaming/ann.py ADVICE-r8 contract):
        # writetime is the batch id, so two deliveries of the same doc_id
        # WITHIN one micro-batch would interleave into one garbled stream
        # in the per-id collect AND tie on writetime in the store's LWW
        # merge.  Collapse to one row per id first — lexicographic max of
        # the text is a stable pick independent of partition order.
        # NOTE (ADVICE r13): within one micro-batch there is NO version
        # order — the source hands us an unordered set, so "newest" is
        # undefined at this granularity and max(text) is an arbitrary but
        # deterministic tie-break, NOT a recency rule.  Across batches the
        # store's writetime LWW still picks the newest batch.  A source
        # that carries its own version/offset column should dedup on that
        # column upstream (max_by(text, version)) before reaching here.
        batch_df = batch_df.groupBy(id_col).agg(
            F.max(F.col(text_col)).alias(text_col)
        )
        # Per-batch work must be ∝ BATCH vocabulary, not the frozen global
        # table: restrict the segmentation join to the shard's distinct
        # words, and replay the merge folds only when the shard actually
        # carries out-of-vocabulary words (the common steady-state shard
        # has none, and the replay's composed folds + checkpoint jobs are
        # merge-list-sized — a per-trigger fixed cost worth one tiny
        # isEmpty probe on the anti-join to avoid).
        batch_vocab = batch_df.select(
            F.explode(_norm_tokens(F.col(text_col))).alias("word")
        ).distinct()
        batch_words = words.join(batch_vocab, "word", "left_semi")
        if merges is not None:
            unseen = batch_vocab.join(
                words.select("word"), "word", "left_anti"
            )
            if not unseen.isEmpty():
                batch_words = batch_words.unionByName(
                    bpe.segment_words(unseen, merges, batch=merge_batch)
                )
        return bpe.bpe_encode_ids(
            batch_df, id_col, text_col, batch_words, vocab, unk_id=unk_id,
            oov=oov, byte_bounds=byte_bounds,
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
        transform=encode_batch,
    )


def _prior_max_bin_runs(store: RunStore, batch_id: int):
    """``(key_lower,)`` when ``store`` holds rows written BEFORE
    ``batch_id``, else None — the driver-side (stats-only, no scan)
    preamble of ``stream_windows``'s carry read.  ``key_lower`` is the
    global max bin across those runs from the per-run skip index, so the
    carry read prunes to the run(s) actually holding the boundary window;
    it degrades to None (unbounded read) when a run lacks bin stats —
    pruning is an optimization, never a correctness bet.  A run whose
    writetime-min equals ``batch_id`` is this batch's own run from a
    crashed attempt (every appended run carries one batch's constant
    writetime; compaction only ever folds marked batches, which are
    strictly older than a replaying one) and is excluded on both counts."""
    hi = None
    have_prior = False
    missing = False
    for st in store.run_stats().values():
        wt = st["columns"].get("writetime")
        wt_min_usable = wt is not None and isinstance(wt.get("min"), int)
        if wt_min_usable and wt["min"] > batch_id - 1:
            continue  # this batch's own crashed-attempt run
        b = st["columns"].get("bin")
        if b is not None and b.get("min") is None and b.get("max") is None:
            continue  # empty run (an empty micro-batch): no rows to read
        have_prior = True
        if not wt_min_usable or b is None or b.get("max") is None:
            # Unusable writetime stats (absent, or stringified by a
            # default=str json dump) mean the run COULD be this batch's
            # own crashed attempt: folding its bin max into the prune
            # bound while the writetime-bounded read then drops its rows
            # would return no prior rows and silently re-base bins at 0.
            # Treat the run as missing for key_lower — degrade to the
            # unbounded read, which the writetime extra_bound keeps
            # correct (ADVICE r16).
            missing = True
        elif hi is None or b["max"] > hi:
            hi = b["max"]
    if not have_prior:
        return None
    return (None if missing else hi,)


def _boundary_row(store: RunStore, spark, key_lower, batch_id: int):
    """The store's max-bin row as of the previous batch (the carry
    boundary), or None when the prior view is empty.

    When the per-run skip index pinned the max bin (``key_lower`` not
    None — every prior run had usable stats, so ``key_lower`` IS the
    global max), the row is read DIRECTLY: scan only the run(s) that may
    hold that bin, filter to it, and pick the newest writetime
    driver-side — one collect with no exchange, replacing the LWW window
    merge + TakeOrdered of the general read (r18).  The driver-side max
    is the merge's winner because the protocol yields one row per
    (bin, writetime): each batch appends one run under its batch id as
    the constant writetime, replays no-op, and compaction folds to
    per-bin LWW winners keeping original writetimes.  So the read holds
    at most one row per scanned run, and the collect is bounded at one
    more: more rows than runs means the store broke that contract, and
    the read falls back to the LWW merge rather than trust a max over
    them.  Degraded stats (``key_lower`` None) or an unexpectedly empty
    direct read fall back the same way — pruning stays an optimization,
    never a correctness bet.

    Kept runs small enough for ``RunStore._read_small`` are read there
    instead, under the same two bounds: their LWW winners come back as a
    local relation whose max bin is the row, with no Spark job and no
    bound inlined into generated code, which the scan's filter would
    compile anew on every trigger."""
    if key_lower is not None:
        runs = store.prune_runs(key_lower, None)
        wt_keep = set(store.prune_runs(None, batch_id - 1, column="writetime"))
        runs = [r for r in runs if r in wt_keep]
        bounds = [("bin", key_lower, None), ("writetime", None, batch_id - 1)]
        small = store._read_small(spark, runs, bounds) if runs else None
        if small is not None:
            rows = small.collect()  # a local relation: no job
            if rows:
                return max(rows, key=lambda r: r["bin"])
        elif runs:
            rows = (
                reduce(DataFrame.unionByName, store._scan(spark, runs))
                .filter(
                    (F.col("bin") >= key_lower)
                    & (F.col("writetime") <= batch_id - 1)
                )
                # one partition, so the limited collect is one job (a
                # limit over several partitions may take them in rounds)
                .coalesce(1)
                .limit(len(runs) + 1)
                .collect()
            )
            if rows and len(rows) <= len(runs):
                return max(rows, key=lambda r: r["writetime"])
    prior = store.read_merged(
        spark,
        key_lower=key_lower,
        extra_bounds={"writetime": (None, batch_id - 1)},
    )
    top = prior.orderBy(F.col("bin").desc()).limit(1).collect()
    return top[0] if top else None


def _check_append_order(batch_id: int, mn, hi) -> None:
    """``stream_windows``' append-order guard: a batch whose lowest id
    ``mn`` is at or below ``hi``, the highest already-windowed doc id,
    would re-pack emitted history, not extend it, so it fails loudly
    before anything is appended (either may be None: no check)."""
    if hi is not None and mn is not None and mn <= hi:
        raise ValueError(
            f"stream_windows: batch {batch_id} carries id {mn} ≤ "
            f"already-windowed id {hi} — batches must arrive in "
            "ascending id order (the carry-forward precondition); "
            "re-deliveries of windowed documents cannot be "
            "re-packed without rewriting emitted windows"
        )


def _max_per_id(table, id_col: str, col: str):
    """``table`` with one row per ``id_col`` value, the one with the
    greatest ``col``: the driver form of the drains' intra-batch
    ``groupBy(id_col).agg(max(col))``.  Python orders strings by code
    point and lists element-wise (a prefix first), as Spark orders
    strings by their UTF-8 bytes and arrays; ``col`` must hold no
    nulls."""
    import pyarrow.compute as pc

    if pc.count_distinct(table[id_col]).as_py() == table.num_rows:
        return table
    best: dict = {}
    vals = table[col].to_pylist()
    for i, k in enumerate(table[id_col].to_pylist()):
        if k not in best or vals[i] > vals[best[k]]:
            best[k] = i
    return table.take(sorted(best.values()))


def _with_writetime(table, batch_id: int):
    """``table`` plus the drains' ``writetime`` column, the batch id."""
    import pyarrow as pa

    return table.append_column(
        "writetime", pa.array([batch_id] * table.num_rows, pa.int64())
    )


def stream_windows(
    stream: DataFrame,
    store: RunStore,
    checkpoint_dir: str,
    capacity: int,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
    maintain_every: Optional[int] = None,
    min_threshold: int = 4,
    available_now: bool = True,
    query_name: str = "window-ingest",
    txn_app_id: Optional[str] = None,
) -> StreamingQuery:
    """Materialize arriving encoded documents into fixed-``capacity``
    training windows appended to a persisted RunStore — the STREAMING
    member of the window family, closing the last batch/streaming
    asymmetry: `materialize_windows_incremental` proves the carry-forward
    protocol shard-by-shard in one job; this runs the SAME protocol one
    micro-batch at a time under the locked idempotent-ingest contract,
    so a 100 TB corpus windows as the crawl lands, with already-emitted
    full windows IMMUTABLE and per-batch cost ∝ the batch.

    The carry (the boundary partial window, ≤ ``capacity`` tokens with
    doc attribution) is NOT driver memory — it is reconstructed each
    batch FROM THE STORE's own max-bin row, read as of the previous
    batch (``read_merged(extra_bounds={'writetime': (None, batch_id-1)})``
    — a PRE-merge bound, so a crash-replayed batch that already published
    its run recomputes from the exact prior state and the named append
    no-ops; the protocol is restart-safe with zero extra state files).
    Each batch's run holds its full windows plus the new boundary
    partial; the superseded partial (same bin, older writetime) loses
    the store's LWW merge, so the read view is always a consistent
    window set — hash-certified against the one-shot
    `packed_training_windows` oracle by `windows_streaming_store`.

    Preconditions (the incremental protocol's, enforced fail-loud):
    ids must cast to non-negative bigints (the carry orders at negative
    ``__ord``), and batches must arrive in ascending id order — each
    batch's minimum id must exceed every carried document's (guarded
    with a one-row aggregate when a carry exists; a violation would
    silently re-pack history).  Intra-batch duplicate deliveries of one
    id collapse to the lexicographically greatest stream first — the
    same arbitrary-but-deterministic tie-break as ``stream_encode``
    (within one micro-batch there is no version order).

    A batch small enough for the driver (module note) with an integral
    id column is windowed there, after the same boundary read and
    before the same append-order guard, by
    :func:`~cassandra_util_spark.operators.packing.materialize_packed_windows_table`
    over the carry plus the batch: two Spark jobs per trigger (the
    batch's collect, the run's write), plus one when the boundary read
    cannot be served on the driver.  Other batches take the Spark shard
    step.

    ``store`` must key on ``('bin',)`` with writetime ``'writetime'``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from cassandra_util_spark.operators import packing
    from cassandra_util_spark.streaming.ingest import stream_to_runstore

    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    if store.meta.partition_keys != ("bin",) or (
        store.meta.writetime_col != "writetime"
    ):
        raise ValueError(
            "window stores are keyed ('bin',) with writetime "
            f"'writetime'; got keys={store.meta.partition_keys} "
            f"writetime={store.meta.writetime_col!r}"
        )

    def window_small(
        batch_df: DataFrame, batch_id: int, carry: list, bin_base: int, hi
    ) -> Optional[DataFrame]:
        """``window_batch`` on the driver (see the module note), or None
        when the batch holds a null id, array or element or a negative id
        (the Spark path raises the id guard's error for those): one
        collect of the batch, the same per-id max-stream collapse and
        append-order guard, the Arrow windows over the carry plus the
        batch, and a local relation to append."""
        docs = batch_df.select(id_col, ids_col).toArrow()
        ids, streams = docs[id_col], docs[ids_col]
        if ids.null_count or streams.null_count or pc.list_flatten(streams).null_count:
            return None
        if docs.num_rows and pc.min(ids).as_py() < 0:
            return None
        docs = _max_per_id(docs, id_col, ids_col)
        _check_append_order(batch_id, pc.min(docs[id_col]).as_py(), hi)
        types = docs.schema
        inp = pa.concat_tables([
            pa.table({
                id_col: pa.array([d for d, _, _ in carry], types.field(id_col).type),
                "__ord": pa.array([o - capacity for _, o, _ in carry], pa.int64()),
                "__ids": pa.array([p for _, _, p in carry], types.field(ids_col).type),
            }),
            pa.table({
                id_col: docs[id_col],
                "__ord": pc.cast(docs[id_col], pa.int64()),
                "__ids": docs[ids_col],
            }),
        ])
        win = packing.materialize_packed_windows_table(
            inp, id_col, "__ids", capacity, order_col="__ord"
        )
        win = win.set_column(0, "bin", pc.add(win["bin"], bin_base))
        # nullability as in the Spark path's plan, so both write the same
        # parquet columns (a nullable column stores definition levels)
        span = StructType([
            StructField("doc", batch_df.schema[id_col].dataType),
            StructField("off", LongType(), nullable=False),
            StructField("len", LongType()),
        ])
        schema = StructType([
            StructField("bin", LongType(), nullable=False),
            StructField("n_docs", LongType(), nullable=False),
            StructField("n_tokens", LongType()),
            StructField("token_ids", ArrayType(
                batch_df.schema[ids_col].dataType.elementType)),
            StructField("doc_spans", ArrayType(span, containsNull=False),
                        nullable=False),
            StructField("writetime", LongType(), nullable=False),
        ])
        return batch_df.sparkSession.createDataFrame(
            _with_writetime(win, batch_id), schema=schema
        )

    def window_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        spark = batch_df.sparkSession
        id_type = dict(batch_df.dtypes)[id_col]
        elem = batch_df.schema[ids_col].dataType.elementType.simpleString()
        carry: list = []
        bin_base = 0
        hi: "int | None" = None  # highest already-windowed doc id
        prior_runs = _prior_max_bin_runs(store, batch_id)
        if prior_runs is not None:
            # the stats-pinned boundary read: one bounded collect, no
            # exchange on the fast path — per-batch carry cost is
            # O(capacity), NOT an LWW merge of the whole store
            p = _boundary_row(store, spark, prior_runs[0], batch_id)
            if p is not None:
                # the max-bin row's spans hold the globally LAST document
                # whether the boundary tiled exactly or not — the guard
                # below must fire in BOTH cases (review r15: a full
                # boundary used to skip it, so an out-of-order batch one
                # token after an exact tiling corrupted silently)
                hi = max(int(s["doc"]) for s in p["doc_spans"])
                if int(p["n_tokens"]) < capacity:
                    bin_base = int(p["bin"])
                    carry = packing.carry_from_window_row(p)
                else:
                    bin_base = int(p["bin"]) + 1
        if isinstance(batch_df.schema[id_col].dataType, IntegralType) and (
            _driver_sized(batch_df)
        ):
            packing._check_carry_columns(id_col, ids_col)
            small = window_small(batch_df, batch_id, carry, bin_base, hi)
            if small is not None:
                return small
        # intra-batch dedup, NOT pinned here: the shard step's input
        # checkpoint materializes it exactly once (r18 — the r17 eager
        # batch pin double-cached the same rows as the shard step's own
        # pin and leaked checkpoint blocks for the stream's lifetime;
        # ADVICE r17), and the append-order guard's min-id now rides the
        # shard step's strategy-count job instead of running its own
        batch_df = batch_df.groupBy(id_col).agg(
            F.max(F.col(ids_col)).alias(ids_col)
        )
        win, _, _, mn = packing._windows_shard_step(
            spark, carry, batch_df, id_col, ids_col, capacity, id_type, elem,
            with_min_id=True,
        )
        # checked AFTER the shard step computes (its fused aggregate
        # supplies the min id) but BEFORE anything is appended
        _check_append_order(batch_id, mn, hi)
        return win.select(
            (F.col("bin") + F.lit(bin_base)).cast("bigint").alias("bin"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "token_ids",
            "doc_spans",
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
        transform=window_batch,
    )
