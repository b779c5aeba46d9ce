"""Sequence packing: assembling documents into fixed-size training windows.

Pretraining consumes fixed-length token windows, not documents; packing
decides which documents share a window.  Two industry-standard modes:

- **concat-and-chunk** (:func:`pack_sequences`): documents are concatenated
  in a deterministic order and windows are cut every ``capacity`` tokens —
  documents may span a window boundary (the EOD-token style).  Window
  assignment is pure arithmetic on the running token count, so it is a
  window-function expression: exact, shuffle-light, and reproducible in any
  SQL engine.
- **greedy no-split** (:func:`pack_greedy`): a document never crosses a
  window; it goes into the current window unless it would overflow, which
  opens a new one.  That running remainder is a sequential fold — not
  expressible as an associative window aggregate — so it runs as an
  Arrow-batched ``applyInPandas`` over shards (the documented escape hatch
  for genuinely stateful per-group logic).

Scale design (100 TB): a single global ordering funnels the cumulative sum
through one partition — fine for a contract oracle, wrong at scale.  Both
modes take ``shard_col``: packing is then independent per shard (the window
partitions / the groupBy key), runs fully parallel, and window ids become
(shard, bin).  Sharding by a stable key (e.g. a hash prefix of the doc id)
is how real pipelines pack petabyte corpora: windows never cross shards, so
no cross-shard coordination exists to serialize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    capacity: int,
    order_col: str | None = None,
    shard_col: str | None = None,
    distributed: bool = False,
) -> DataFrame:
    """Concat-and-chunk packing: (id, n_tokens, bin, bin_offset) where
    ``bin`` is the window holding the document's FIRST token and
    ``bin_offset`` its position inside that window (long docs spill into
    subsequent windows; the consumer slices).

    ``order_col`` (default ``id_col``) fixes the concatenation order — the
    determinism contract.  With ``shard_col``, bins restart per shard and
    the computation parallelizes; without, one global stream.

    ``distributed=True`` (global form only) computes the SAME global
    stream through the two-phase prefix sum
    (:func:`~cassandra_util_spark.functions.cumsum.distributed_cumsum`)
    instead of the single-task global window — bit-identical output
    (integer token sums are exact under any grouping; test-pinned), no
    serialization point.  This is the scale path when windows genuinely
    must not restart (one unbroken token stream across the corpus);
    prefer ``shard_col`` when per-shard streams are acceptable.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    order = _order_chain(order_col, id_col)
    out = [F.col(id_col), F.col(token_col).alias("n_tokens")]
    if shard_col:
        out.append(F.col(shard_col))
    staged = _exclusive_running_count(df, token_col, order, shard_col, distributed)
    return staged.select(
        *out,
        F.floor(F.col("__cb") / F.lit(capacity)).alias("bin"),
        F.pmod(F.col("__cb"), F.lit(capacity)).alias("bin_offset"),
    )


def _order_chain(order_col: str | None, id_col: str) -> list[str]:
    """The packing family's concatenation-order key chain: the user's
    ``order_col`` (default ``id_col``) with ``id_col`` appended as the
    final tie-break, making the chain a total order whenever ``id_col``
    is unique — a tied ``order_col`` alone would leave the running count
    partition-order-nondeterministic and window contents could silently
    vary between runs (ADVICE r13)."""
    order = order_col or id_col
    return [order] if order == id_col else [order, id_col]


def _exclusive_running_count(
    df: DataFrame,
    token_col: str,
    order: list[str],
    shard_col: str | None,
    distributed: bool,
) -> DataFrame:
    """The input plus ``__cb`` — the EXCLUSIVE running sum of ``token_col``
    under the ``order`` column chain (restarting per ``shard_col``) — the
    one place the packing family computes its concatenation offsets, shared
    by :func:`pack_sequences` (the certified window arithmetic) and
    :func:`materialize_packed_windows` so the two can never drift.

    ``order`` must be a TOTAL order (the distributed_cumsum contract: a
    tied prefix sum is partition-order-nondeterministic) — callers append
    ``id_col`` as the final tie-break key so a non-unique user
    ``order_col`` cannot silently vary window contents between runs
    (ADVICE r13)."""
    if distributed:
        if shard_col:
            raise ValueError(
                "distributed=True is the GLOBAL-stream scale path; with "
                "shard_col the per-shard windows already parallelize"
            )
        from cassandra_util_spark.functions.cumsum import distributed_cumsum

        cum = distributed_cumsum(df, order, token_col, out_col="__cum")
        return cum.withColumn(
            "__cb", F.col("__cum") - F.col(token_col)
        ).drop("__cum")
    w = (
        Window.partitionBy(shard_col).orderBy(*order)
        if shard_col
        else Window.orderBy(*order)
    )
    return df.withColumn(
        "__cb",
        F.coalesce(
            F.sum(token_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )


def materialize_packed_windows(
    df: DataFrame,
    id_col: str,
    ids_col: str,
    capacity: int,
    order_col: str | None = None,
    shard_col: str | None = None,
    distributed: bool = False,
    eod_id: int | None = None,
    with_spans: bool = False,
) -> DataFrame:
    """(bin, n_docs, n_tokens, token_ids[, doc_spans][, shard]) — the
    MATERIALIZED training windows: every document's token-id array
    concatenated in ``order_col`` order and sliced every ``capacity``
    tokens, documents spilling across window boundaries (the
    concat-and-chunk windows :func:`pack_sequences` only PLANS).  The
    final window of a stream is partial (``n_tokens < capacity``) —
    padding is the consumer's choice, accounted separately by
    :func:`padding_waste_report`.

    ``with_spans`` adds ``doc_spans: array<struct<doc,off,len>>`` — the
    per-window DOCUMENT ATTRIBUTION map, ordered by in-window offset:
    which document owns tokens [off, off+len) of the window.  Trainers
    need exactly this to build block-diagonal attention masks (no
    cross-document attention inside a packed window) and to trace any
    training token back to its source document; it is derived from the
    same slice pieces the reassembly already ships, so the map costs no
    extra shuffle — the spans ARE the pieces.

    ``eod_id`` appends that token after every NON-EMPTY document before
    packing — the end-of-document delimiter real trainers use so the
    model can learn document boundaries inside a window (GPT-style
    ``<|endoftext|>``).  Empty documents stay invisible: they carry no
    content to delimit, and a run of them must not stutter the stream.

    Shape: window arithmetic as pure expressions on the exclusive running
    count, then ONE (bin)-keyed shuffle reassembling windows from SLICE
    PIECES — each document contributes one row per window it touches
    (``1 + floor(tokens/capacity)`` rows, NOT one row per token), carrying
    the array slice of its ids that lands in that window plus the slice's
    in-window offset.  Within a window the pieces tile [0, capacity)
    disjointly, so ordering by offset and flattening rebuilds the exact
    token stream.  The shuffle payload is therefore the packed id arrays
    themselves (~4 bytes/token) — the information floor — instead of a
    per-token (doc, base, index, token, position) row, whose framing
    costs ~40 bytes/token whenever map-side partial aggregation stops
    combining (measured: the r13 ramp's 39.4× shuffle growth for 30×
    data was exactly this; the slice form is linear by construction —
    see SCALING.md).  ``shard_col`` restarts bins per shard and
    parallelizes the running count; ``distributed=True`` (global form)
    computes it via the two-phase prefix sum instead of the single-task
    window — same output, no serialization point."""
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    order = _order_chain(order_col, id_col)
    if eod_id is not None:
        elem = df.schema[ids_col].dataType.elementType
        delimited = F.when(
            F.size(ids_col) > 0,
            F.concat(F.col(ids_col), F.array(F.lit(eod_id).cast(elem))),
        ).otherwise(F.col(ids_col))
        df = df.withColumn(ids_col, delimited)
    keys = [shard_col] if shard_col else []
    staged = _exclusive_running_count(
        df.withColumn("__n", F.size(ids_col)), "__n", order, shard_col,
        distributed,
    )
    n = F.size(ids_col)
    pieces = (
        staged.filter(n > 0)
        .select(
            *keys,
            F.col(id_col).alias("__doc"),
            F.col("__cb"),
            F.col(ids_col).alias("__ids"),
            F.explode(
                F.sequence(
                    F.floor(F.col("__cb") / capacity),
                    F.floor((F.col("__cb") + n - 1) / capacity),
                )
            ).alias("bin"),
        )
        # the document's token span clipped to this window, as 0-based
        # [start, end) offsets into its own id array
        .withColumn(
            "__start",
            F.greatest(F.col("bin") * capacity - F.col("__cb"), F.lit(0)),
        )
        .withColumn(
            "__end",
            F.least((F.col("bin") + 1) * capacity - F.col("__cb"), F.size("__ids")),
        )
        .select(
            *keys,
            "bin",
            "__doc",
            # where this piece starts inside the window: pieces from
            # different documents tile [0, capacity) disjointly, so this
            # offset is a total order within the (keys, bin) group
            (F.col("__cb") + F.col("__start") - F.col("bin") * capacity).alias(
                "__off"
            ),
            F.slice(
                "__ids", (F.col("__start") + 1).cast("int"),
                (F.col("__end") - F.col("__start")).cast("int"),
            ).alias("__piece"),
        )
    )
    aggs = [
        F.countDistinct("__doc").alias("n_docs"),
        F.sum(F.size("__piece")).cast("bigint").alias("n_tokens"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__off", "__piece"))),
                lambda s: s["__piece"],
            )
        ).alias("token_ids"),
    ]
    out = [*keys, "bin", "n_docs", "n_tokens", "token_ids"]
    if with_spans:
        aggs.append(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "__off", "__doc", F.size("__piece").alias("__len")
                        )
                    )
                ),
                lambda s: F.struct(
                    s["__doc"].alias("doc"),
                    s["__off"].alias("off"),
                    s["__len"].cast("bigint").alias("len"),
                ),
            ).alias("doc_spans")
        )
        out.append("doc_spans")
    return pieces.groupBy(*keys, "bin").agg(*aggs).select(*out)


def materialize_packed_windows_table(
    table, id_col: str, ids_col: str, capacity: int, order_col: str | None = None
):
    """The Arrow form of :func:`materialize_packed_windows` with
    ``with_spans=True`` (global form, no ``eod_id``), computed on the
    driver: (bin, n_docs, n_tokens, token_ids, doc_spans), one row per
    window in bin order.  Every document's ids concatenate in the
    ``order_col`` (then ``id_col``) order into one stream cut every
    ``capacity`` tokens, and each document contributes one
    ``(doc, off, len)`` span per window it touches; empty documents
    contribute nothing.  ``table`` must hold no nulls in ``id_col``,
    ``order_col`` or ``ids_col`` (arrays or elements), and the order
    chain must be a total order, as the Spark form requires."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    order = _order_chain(order_col, id_col)
    table = table.take(pc.sort_indices(table, [(c, "ascending") for c in order]))
    ids = table[ids_col].combine_chunks()
    n = pc.list_value_length(ids).to_numpy(zero_copy_only=False).astype(np.int64)
    cb = np.cumsum(n) - n  # the exclusive running count
    total = int(n.sum())
    bins = -(-total // capacity)
    # one piece per (document, window it touches), in stream order, which
    # is also (bin, in-window offset) order
    docs = np.flatnonzero(n)
    first, last = cb[docs] // capacity, (cb[docs] + n[docs] - 1) // capacity
    per_doc = last - first + 1
    doc = np.repeat(docs, per_doc)
    start = np.repeat(np.cumsum(per_doc) - per_doc, per_doc)
    piece_bin = np.repeat(first, per_doc) + np.arange(len(doc)) - start
    lo = np.maximum(cb[doc], piece_bin * capacity)
    hi = np.minimum(cb[doc] + n[doc], (piece_bin + 1) * capacity)
    doc_ids = table[id_col].combine_chunks().take(pa.array(doc, pa.int64()))
    n_docs = np.zeros(bins, np.int64)
    if len(doc):
        distinct = pa.table({"b": piece_bin, "d": doc_ids}).group_by(["b", "d"]).aggregate([])
        np.add.at(n_docs, distinct["b"].to_numpy(), 1)
    # nullability as the Spark form's plan gives it
    span = pa.struct([
        pa.field("doc", doc_ids.type),
        pa.field("off", pa.int64(), nullable=False),
        pa.field("len", pa.int64()),
    ])
    token_off = np.minimum(np.arange(bins + 1) * capacity, total)
    span_off = np.searchsorted(piece_bin, np.arange(bins + 1))
    return pa.table({
        "bin": pa.array(np.arange(bins), pa.int64()),
        "n_docs": pa.array(n_docs, pa.int64()),
        "n_tokens": pa.array(np.diff(token_off), pa.int64()),
        "token_ids": pa.ListArray.from_arrays(
            pa.array(token_off, pa.int32()), ids.flatten()
        ),
        "doc_spans": pa.ListArray.from_arrays(
            pa.array(span_off, pa.int32()),
            pa.StructArray.from_arrays(
                [doc_ids, pa.array(lo - piece_bin * capacity, pa.int64()),
                 pa.array(hi - lo, pa.int64())],
                fields=list(span),
            ),
            type=pa.list_(pa.field("element", span, nullable=False)),
        ),
    })


def reassemble_doc_streams(
    windows: DataFrame,
    doc_col: str = "doc_id",
    ids_col: str = "token_ids",
    spans_col: str = "doc_spans",
) -> DataFrame:
    """(doc_col, token_ids, n_tokens) — INVERT
    :func:`materialize_packed_windows`: rebuild every document's
    contiguous token-id stream from its slice pieces scattered across
    capacity-sliced windows.  This is the loader/inspection inverse the
    attribution map exists for — "trace any training token back to its
    source document" at the granularity of the WHOLE document — and the
    production-correct precursor to detokenizing window payloads:
    a window slice can cut an OOV word's byte-fallback run
    mid-character, so :func:`~cassandra_util_spark.operators.bpe.
    bpe_decode` (whose torn-run guard raises on such a slice) must see
    per-document streams, i.e. THIS operator's output, never raw window
    payloads (ADVICE r16).

    ``windows`` needs ``(bin, token_ids, doc_spans)`` — the
    ``with_spans=True`` output shape, in-plan or read back from a
    persisted window store.  Pieces carry no shard column: a document
    lives in exactly one shard, and within it ``(bin, off)``
    lexicographic order IS the document's token order, so sharded and
    global windows reassemble identically.

    Shape (the forward pass mirrored): explode ``doc_spans`` → slice
    the window payload per span (one row per piece, ~4 bytes/token —
    the same information-floor payload the packer shuffled in) → ONE
    (doc)-keyed shuffle → ordered flatten.  No per-token rows anywhere.
    Documents that packed to zero tokens carry no spans and do not
    reappear — a consumer needing them joins back to its corpus (the
    round-trip fixture does exactly that)."""
    s = F.col("s")
    pieces = windows.select(
        "bin", F.explode(spans_col).alias("s"), ids_col
    ).select(
        s["doc"].alias(doc_col),
        F.struct(
            F.col("bin").alias("b"),
            s["off"].alias("o"),
            F.slice(
                ids_col, (s["off"] + 1).cast("int"), s["len"].cast("int")
            ).alias("p"),
        ).alias("__piece"),
    )
    return (
        pieces.groupBy(doc_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("__piece")), lambda x: x["p"]
                )
            ).alias("token_ids")
        )
        .withColumn("n_tokens", F.size("token_ids").cast("bigint"))
    )


def chunk_structs(toks: Column, chunk_words: int, overlap: int = 0) -> Column:
    """Array of (chunk_id, chunk_text, n_words) structs over a token-array
    Column — the ONE source of the fixed-window chunk arithmetic, shared by
    :func:`chunk_documents` (cross-document span tooling explodes it) and
    `remove_repeated_spans_within` (which consumes it in place, map-only).
    Window k starts at ``k * (chunk_words - overlap)``; the last window is
    short rather than padded; fewer tokens than one window ⇒ exactly one
    chunk.  Keeping it single-sourced means the two span-excision operators
    can never silently disagree on chunk boundaries.
    """
    if not 0 <= overlap < chunk_words:
        raise ValueError(f"need 0 <= overlap < chunk_words, got {overlap}/{chunk_words}")
    step = chunk_words - overlap
    size = F.size(toks)
    k = F.greatest(F.ceil((size - F.lit(overlap)) / F.lit(step)), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.concat_ws(" ", F.slice(toks, i * step + 1, chunk_words)).alias(
                "chunk_text"
            ),
            F.least(F.lit(chunk_words), size - i * step).cast("bigint").alias(
                "n_words"
            ),
        ),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping word windows:
    (id, chunk_id, chunk_text, n_words) — the segmentation pass feeding
    fixed-context training and retrieval indexing.

    Window k starts at ``k * (chunk_words - overlap)``; the last window is
    short rather than padded; documents shorter than one window yield
    exactly one chunk.  Pure expression fan-out (let-bound token array →
    transform over window starts → posexplode): map-only at any scale, and
    the chunk count per document is ``ceil((len - overlap) / step)`` —
    deterministic arithmetic an external engine reproduces exactly.
    """
    from cassandra_util_spark.operators.text import _norm_tokens

    arr = F.transform(
        F.array(_norm_tokens(F.col(text_col))),
        lambda toks: chunk_structs(toks, chunk_words, overlap),
    )[0]
    return (
        df.select(F.col(id_col), F.explode(arr).alias("c"))
        .select(id_col, "c.chunk_id", "c.chunk_text", "c.n_words")
    )


# One no-split packing task materializes its whole shard as a pandas frame
# (applyInPandas hands each group to ONE task); past this many rows that is
# a silent single-task serialization + memory hazard, not a plan choice —
# the fold RAISES with the sharding remedy instead (VERDICT r14 task 4, the
# spooked-ladder treatment: degrade loudly, never silently).  Raised lazily
# INSIDE the Arrow fold: zero extra jobs, fires only when the oversized
# group actually materializes.  ~2M (id, n_tokens) rows ≈ tens of MB of
# pandas and a sub-second serial fold — comfortably inside one executor;
# the next order of magnitude is not.
PACK_SINGLE_TASK_MAX_ROWS = 2_000_000


def _guard_fold_size(pdf, shard_col, max_rows, op: str) -> None:
    if max_rows is not None and len(pdf) > max_rows:
        remedy = (
            "Pass shard_col= to parallelize (bins are numbered per shard)"
            if shard_col is None
            else f"Use a finer {shard_col!r} shard key"
        )
        raise ValueError(
            f"{op}: one packing shard holds {len(pdf)} documents "
            f"(> max_single_task_rows={max_rows}) — the no-split fold runs "
            f"each shard in ONE Arrow task, so this shard would serialize "
            f"the job. {remedy}, or raise max_single_task_rows explicitly "
            "if a single task is intended."
        )


def pack_greedy(
    df: DataFrame,
    id_col: str,
    token_col: str,
    capacity: int,
    order_col: str | None = None,
    shard_col: str | None = None,
    max_single_task_rows: int | None = PACK_SINGLE_TASK_MAX_ROWS,
) -> DataFrame:
    """Greedy no-split packing: (id, n_tokens[, shard], bin) — a document
    never spans windows; the current window closes when the next document
    would overflow it.  Documents larger than ``capacity`` get a window of
    their own (flagged ``oversize``).

    The running remainder is inherently sequential per shard, so each shard
    folds inside one Arrow batch stream (``applyInPandas``); parallelism
    comes from sharding, exactly as at production scale.  A shard larger
    than ``max_single_task_rows`` fails loudly inside the fold (see
    :data:`PACK_SINGLE_TASK_MAX_ROWS`); pass ``None`` to disable.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    order = order_col or id_col
    shard = shard_col
    work = df.select(
        F.col(id_col),
        F.col(token_col).alias("n_tokens"),
        (F.col(shard) if shard else F.lit(0)).alias("__shard"),
        F.col(order).alias("__ord"),
    )

    schema_shard = f", `{shard}` {dict(df.dtypes)[shard]}" if shard else ""
    out_schema = (
        f"`{id_col}` {dict(df.dtypes)[id_col]}, n_tokens bigint{schema_shard}, "
        "bin bigint, oversize boolean"
    )

    def fold(pdf):
        import pandas as pd

        _guard_fold_size(pdf, shard, max_single_task_rows, "pack_greedy")
        pdf = pdf.sort_values("__ord", kind="mergesort")
        bins, oversize = [], []
        cur_bin, cur_fill = 0, 0
        started = False
        for n in pdf["n_tokens"]:
            n = int(n)
            if started and cur_fill + n > capacity:
                cur_bin += 1
                cur_fill = 0
            bins.append(cur_bin)
            oversize.append(n > capacity)
            cur_fill += n
            started = True
        cols = {id_col: pdf[id_col], "n_tokens": pdf["n_tokens"].astype("int64")}
        if shard:
            cols[shard] = pdf["__shard"]
        cols["bin"] = pd.Series(bins, index=pdf.index, dtype="int64")
        cols["oversize"] = pd.Series(oversize, index=pdf.index)
        return pd.DataFrame(cols)

    return work.groupBy("__shard").applyInPandas(fold, out_schema)


def padding_waste_report(
    df: DataFrame,
    token_col: str,
    min_bucket: int = 64,
    max_bucket: int = 8192,
) -> DataFrame:
    """Padding-cost accounting for fixed-length batching: assign each
    document to the smallest power-of-two bucket ≥ its token count
    (floored at ``min_bucket``; longer-than-``max_bucket`` documents go to
    an ``oversize`` bucket that a truncation/chunking policy must handle)
    and report, per bucket: document count, real tokens, padded slots
    (count·bucket), wasted slots, and waste share.

    This is the measurement behind length-bucketed batch shaping — the
    standard alternative to packing when documents must stay whole (SFT,
    eval): without bucketing every batch pads to its longest member; the
    report quantifies exactly how many FLOPs padding burns at each bucket
    size so the bucket ladder (or a switch to :func:`pack_sequences`) is
    chosen on evidence.  One partial-aggregate pass, |buckets| output rows
    (≤ log2(max/min)+2 — bounded by construction); every column is exact
    integer arithmetic except the one rounded share, so the report
    replays bit-identically in SQL.
    """
    if min_bucket <= 0 or max_bucket < min_bucket:
        raise ValueError(f"bad bucket range [{min_bucket}, {max_bucket}]")
    t = F.col(token_col).cast("bigint")
    # smallest power-of-two bucket >= t, by exact INTEGER selection over the
    # <= log2(max/min)+1 candidates — never ceil(log2(double)), whose last
    # ulp differs between engines on exact powers and would flip a document
    # one bucket up in one engine only
    ladder = []
    b = 1
    while b < min_bucket:
        b <<= 1
    while b <= max_bucket:
        ladder.append(b)
        b <<= 1
    candidates = F.array(*[F.lit(v) for v in ladder])
    bucket = F.when(t > max_bucket, F.lit(-1)).otherwise(
        F.array_min(F.filter(candidates, lambda v: v >= t))
    )
    return (
        df.select(bucket.alias("bucket"), t.alias("t"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("n_tokens"),
        )
        .withColumn(
            "padded_slots",
            F.when(F.col("bucket") > 0, F.col("bucket") * F.col("n_docs")),
        )
        .withColumn("wasted_slots", F.col("padded_slots") - F.col("n_tokens"))
        .withColumn(
            "waste_share",
            F.round(
                F.col("wasted_slots") / F.col("padded_slots").cast("double"), 6
            ),
        )
        .orderBy(F.col("bucket").asc())
    )


def fim_transform(
    df: DataFrame,
    id_col: str,
    ids_col: str,
    rate: float = 0.7,
    min_tokens: int = 16,
    pre_id: int = -101,
    suf_id: int = -102,
    mid_id: int = -103,
    seed: str = "fim",
) -> DataFrame:
    """(id, fim, token_ids, n_tokens) — the fill-in-middle training
    transform (Bavarian et al. 2022, the OpenAI FIM recipe): a ``rate``
    fraction of documents have a random span moved to the END of their
    token stream behind sentinel markers —
    ``[PRE] prefix [SUF] suffix [MID] middle`` (PSM order) — so an
    autoregressive model learns infilling from the same left-to-right
    objective; the rest pass through untouched (``fim=false``), the
    standard joint-objective mix.

    Every choice is a pure function of (seed, id) via independent
    portable md5 words — the document DEAL (gate < threshold, the
    sample-gate discipline) and the two span endpoints (two more hash
    words mod n, span = [min, max)) — so re-runs, repartitions, and an
    external SQL engine reproduce the identical transform; there is no
    RNG state to checkpoint at 100 TB, and the whole transform is one
    map-only expression pass (three array slices + a concat), no
    shuffle, no UDF.  Degenerate spans (lo == hi, an empty middle) are
    kept: the model must also learn "nothing to fill".  Documents
    shorter than ``min_tokens`` never transform.  Sentinel ids default
    to negative values outside every learned vocabulary (and distinct
    from the encoder's ``unk_id``); downstream packing treats them as
    ordinary tokens, which is exactly how FIM corpora pack."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    from cassandra_util_spark.functions import portable_hash32
    from cassandra_util_spark.operators.sampling import (
        gate_threshold,
        sample_gate,
    )

    elem = df.schema[ids_col].dataType.elementType
    ids = F.col(ids_col)
    n = F.size(ids_col)
    key = F.col(id_col)
    dealt = sample_gate(key, seed) < F.lit(gate_threshold(rate))
    fim = dealt & (n >= min_tokens)
    word = F.concat(F.lit(f"{seed}:"), key.cast("string"))
    # endpoints only ever evaluated under fim (n >= min_tokens >= 1), but
    # guard the modulus anyway: expression engines may evaluate both
    # branches of a conditional on a vectorized batch
    safe_n = F.greatest(n, F.lit(1))
    h1 = F.pmod(portable_hash32(word, offset=9), safe_n)
    h2 = F.pmod(portable_hash32(word, offset=17), safe_n)
    lo = F.least(h1, h2).cast("int")
    hi = F.greatest(h1, h2).cast("int")
    mark = lambda v: F.array(F.lit(v).cast(elem))  # noqa: E731
    rearranged = F.concat(
        mark(pre_id),
        F.slice(ids, 1, lo),
        mark(suf_id),
        F.slice(ids, hi + 1, n - hi),
        mark(mid_id),
        F.slice(ids, lo + 1, hi - lo),
    )
    out = F.when(fim, rearranged).otherwise(ids)
    return df.select(
        F.col(id_col),
        fim.alias("fim"),
        out.alias("token_ids"),
        F.size(out).cast("bigint").alias("n_tokens"),
    )


def epoch_shuffle_plan(
    win: DataFrame,
    epochs: int,
    num_shards: int,
    seed: str = "ep",
    bin_col: str = "bin",
) -> DataFrame:
    """(epoch, <bin_col>, [n_tokens,] shard, pos) — the multi-epoch LOADER
    PLAN over materialized windows: for each epoch, every window deals
    into a shard and gets a reproducible within-(epoch, shard) position
    from an independent hash word.  Trainers need exactly this shape: a
    DIFFERENT deterministic window order per epoch (no fixed-order
    memorization, no RNG state to checkpoint) where membership and
    position are pure functions of (seed, epoch, bin) — resuming epoch e
    at step k is a filter, not a replay, and engine swaps mount
    identical orders.

    Scale shape: |epochs|×|windows| map-only rows, one broadcast of the
    |epochs| side, one (epoch, shard) hash exchange with per-group sort
    — never a global sort (raise ``num_shards`` to raise sort
    parallelism).  Certified end to end by `windows_epoch_shuffle`."""
    from pyspark.sql import Window

    from cassandra_util_spark.functions import portable_hash32

    if epochs <= 0:
        raise ValueError(f"epochs must be positive, got {epochs}")
    if num_shards <= 0:
        raise ValueError(f"num_shards must be positive, got {num_shards}")
    spark = win.sparkSession
    cols = [bin_col] + (["n_tokens"] if "n_tokens" in win.columns else [])
    ep = spark.range(epochs).select(F.col("id").cast("int").alias("epoch"))
    key = F.concat(
        F.lit(f"{seed}:"),
        F.col("epoch").cast("string"),
        F.lit(":"),
        F.col(bin_col).cast("string"),
    )
    dealt = win.select(*cols).crossJoin(F.broadcast(ep)).select(
        "epoch",
        *cols,
        F.pmod(portable_hash32(key), F.lit(num_shards)).cast("int").alias("shard"),
        portable_hash32(key, offset=9).alias("__ord"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy(
        F.col("__ord").asc(), F.col(bin_col).asc()
    )
    return dealt.withColumn(
        "pos", F.row_number().over(w).cast("bigint")
    ).drop("__ord")


def shard_manifest(
    win: DataFrame,
    num_shards: int = 4,
    seed: str = "wshard",
) -> DataFrame:
    """(shard, n_windows, n_tokens, checksum) — the training-shard
    MANIFEST over materialized windows: windows deal into shards by the
    portable hash of their bin (shard membership a pure function of
    (seed, bin) — re-runs, repartitions, and engine swaps mount
    identical shards), and each shard row carries the integrity triple a
    loader verifies before mounting: window count, token count, and an
    order-insensitive content checksum (the SUM of each window's
    portable md5 word — any dropped, duplicated, or corrupted window
    changes it, and an external engine reproduces it exactly).

    Every manifest column is a SUM over windows, so the manifest is
    ADDITIVE: the manifest of a union of window batches is the
    column-wise sum of their manifests — which is what lets a 100 TB
    ingest maintain it incrementally as counter deltas
    (`manifest_incremental_totals`) instead of ever recomputing the full
    corpus view.  Applied to one batch of windows, this function IS the
    batch's delta."""
    if num_shards <= 0:
        raise ValueError(f"num_shards must be positive, got {num_shards}")
    from cassandra_util_spark.functions import portable_hash32

    content = F.concat_ws(
        " ", F.transform("token_ids", lambda x: x.cast("string"))
    )
    shard = F.pmod(
        portable_hash32(
            F.concat(F.lit(f"{seed}:"), F.col("bin").cast("string"))
        ),
        F.lit(num_shards),
    ).cast("int")
    return (
        win.select(
            shard.alias("shard"),
            "n_tokens",
            portable_hash32(content).alias("__ck"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("__ck").cast("bigint").alias("checksum"),
        )
    )


def span_corruption(
    df: DataFrame,
    id_col: str,
    ids_col: str,
    noise_density: float = 0.15,
    mean_span: int = 3,
    min_tokens: int = 16,
    sentinel_base: int = -201,
    seed: str = "t5",
) -> DataFrame:
    """(id, corrupted, inputs, targets) — T5-style span-corruption
    denoising pairs (Raffel et al. 2020): ``k ≈ n·density / mean_span``
    spans of each eligible document are replaced by per-span sentinels
    in ``inputs``; ``targets`` is the sentinel-delimited concatenation
    of the removed spans (the sequence the model learns to emit).
    Documents shorter than ``min_tokens`` pass through
    (``corrupted=false``, inputs = the stream, empty targets).

    Span placement is SEGMENT-STRATIFIED: the stream divides into k
    equal segments and each span draws its offset and length (1 to
    2·mean_span−1, clipped to its segment) from independent portable
    md5 words of (seed, id, span-index).  Stratification is what makes
    the spans non-overlapping BY CONSTRUCTION — no rejection loop, no
    RNG state, bit-identical across engines and re-runs — at the cost
    of never corrupting two spans in one segment (documented
    approximation to the reference's uniform placement; density and
    mean span length are preserved).  Sentinel ids descend from
    ``sentinel_base`` (−201, −202, …), outside every learned vocabulary
    and disjoint from the FIM sentinels.  The whole transform is pure
    array expressions over the id streams — map-only, no shuffle, no
    UDF — and reconstruction (splice targets' spans back into inputs'
    sentinel slots) is exact, the lossless property the pair encodes."""
    if not 0.0 < noise_density < 1.0:
        raise ValueError(f"noise_density must be in (0,1), got {noise_density}")
    if mean_span < 1:
        raise ValueError(f"mean_span must be >= 1, got {mean_span}")
    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    elem = df.schema[ids_col].dataType.elementType
    ids = F.col(ids_col)
    n = F.size(ids_col)
    eligible = n >= min_tokens
    # k spans, each inside its own n/k-token segment
    k = F.greatest(
        F.round(n * F.lit(noise_density) / F.lit(mean_span)).cast("int"),
        F.lit(1),
    )
    seg = F.floor(n / k).cast("int")

    # per-span (start, len): length 1..2*mean_span-1 clipped to the
    # segment, offset uniform over the room the length leaves.  Two
    # let-bindings inside the span lambda (functions.let_bind — the
    # staging discipline where withColumn can't reach): the md5 hex is
    # drawn ONCE per span (offsets 9 and 17 are two words of one digest,
    # but unbound each word re-hashed), and the length term is bound
    # before the offset arithmetic re-reads it — values bit-identical,
    # hash certified.
    from cassandra_util_spark.functions import let_bind

    def word(h, off):
        return F.conv(F.substring(h, off, 8), 16, 10).cast("bigint")

    def span(i):
        base = i * seg
        digest = F.md5(
            F.concat(
                F.lit(f"{seed}:"),
                F.col(id_col).cast("string"),
                F.lit(":"),
                i.cast("string"),
            )
        )
        return let_bind(
            digest,
            lambda h: let_bind(
                F.least(
                    (F.lit(1) + F.pmod(word(h, 9), F.lit(2 * mean_span - 1))).cast(
                        "int"
                    ),
                    seg,
                ),
                lambda ln: F.struct(
                    (base + F.pmod(word(h, 17), (seg - ln + 1).cast("int")))
                    .cast("int")
                    .alias("start"),
                    ln.alias("len"),
                ),
            ),
        )

    # STAGE the span table as a real column: every element_at below then
    # reads one attribute instead of re-inlining the k-hash construction
    # (CollapseProject keeps multi-referenced non-cheap expressions
    # staged, SPARK-36718) — without this the stitching re-evaluates the
    # md5 draws O(k) times per access, O(k²) per document (measured 2.5×
    # on the sf0.1 bench; see SCALING.md)
    staged = df.withColumn(
        "__spans", F.transform(F.sequence(F.lit(0), k - 1), span)
    )
    spans = F.col("__spans")
    sent = lambda i: F.array(  # noqa: E731
        (F.lit(sentinel_base) - i).cast(elem)
    )
    # previous span's end (0 for the first) — spans are segment-ordered
    prev_end = lambda i: F.when(i == 0, F.lit(0)).otherwise(  # noqa: E731
        F.element_at(spans, i)["start"] + F.element_at(spans, i)["len"]
    )
    pieces = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat(
            F.slice(ids, prev_end(i) + 1, F.element_at(spans, i + 1)["start"] - prev_end(i)),
            sent(i),
        ),
    )
    last_end = prev_end(k)
    inputs = F.concat(F.flatten(pieces), F.slice(ids, last_end + 1, n - last_end))
    targets = F.flatten(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat(
                sent(i),
                F.slice(
                    ids,
                    F.element_at(spans, i + 1)["start"] + 1,
                    F.element_at(spans, i + 1)["len"],
                ),
            ),
        )
    )
    empty = F.array().cast(f"array<{elem.simpleString()}>")
    return staged.select(
        F.col(id_col),
        eligible.alias("corrupted"),
        F.when(eligible, inputs).otherwise(ids).alias("inputs"),
        F.when(eligible, targets).otherwise(empty).alias("targets"),
    )


def loss_mask_windows(
    win: DataFrame,
    keep: DataFrame,
    doc_col: str = "doc",
) -> DataFrame:
    """(bin, n_tokens, masked_tokens, mask) — per-token LOSS MASKS for
    materialized training windows: ``mask`` is a bitstring as long as the
    window where position i is '1' iff the document owning token i has
    ``keep = true`` in the ``keep`` table (columns ``doc_col``, ``keep``).

    This is the SOFT removal a production pipeline wants when a
    document-level decision (quality gate, dedup verdict, licensing
    flag) changes AFTER windows are materialized: the token stream and
    every window boundary stay byte-identical — no repacking, no
    shifted positions, no invalidated shard manifests — and the flagged
    documents simply stop contributing loss.  Derived entirely from the
    attribution spans (`materialize_packed_windows(with_spans=True)`):
    one explode ∝ spans (documents + tokens/capacity rows, two orders
    below tokens), one (doc)-keyed join against the keep table, one
    (bin)-keyed regroup — the mask never ships token content at all.

    Coverage guard (ADVICE r14): a windowed document with no row in
    ``keep`` used to vanish through the inner join — the mask came back
    shorter than its window and ``n_tokens`` understated, silent data
    loss contradicting the fail-loud discipline (the bpe OOV guard).
    The join is LEFT with a ``raise_error`` on the uncovered side, so
    an incomplete keep table fails LOUDLY, naming the document.  Same
    structural shape as ``_assemble_streams``: zero extra jobs, one
    null-check per span row inside codegen, and callers whose keep
    table covers the corpus (every registered query) pay nothing."""
    sp = win.select(
        "bin",
        F.explode("doc_spans").alias("s"),
    ).select(
        "bin",
        F.col("s.doc").alias(doc_col),
        F.col("s.off").alias("__off"),
        F.col("s.len").alias("__len"),
    )
    j = sp.join(keep.select(doc_col, "keep"), doc_col, "left").withColumn(
        "keep",
        F.when(F.col("keep").isNotNull(), F.col("keep")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("loss_mask_windows: document '"),
                    F.col(doc_col).cast("string"),
                    F.lit(
                        "' is windowed but has no verdict in the keep "
                        "table — the mask would silently drop its "
                        "tokens; supply a keep row for every windowed "
                        "document"
                    ),
                )
            )
        ),
    )
    piece = F.array_join(
        F.array_repeat(
            F.when(F.col("keep"), F.lit("1")).otherwise(F.lit("0")),
            F.col("__len").cast("int"),
        ),
        "",
    )
    return (
        j.select(
            "bin",
            "__off",
            "__len",
            "keep",
            piece.alias("__piece"),
        )
        .groupBy("bin")
        .agg(
            F.sum("__len").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("keep"), 0).otherwise(F.col("__len")))
            .cast("bigint")
            .alias("masked_tokens"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__off", "__piece"))),
                    lambda s: s["__piece"],
                ),
            ).alias("mask"),
        )
    )


# Per-shard strategy cut for the carry-forward window protocol: below this
# many documents the single-partition running-count window beats the
# distributed two-phase prefix sum (which costs several extra jobs per
# shard); above it the single task becomes the serialization/OOM hazard
# the distributed form exists to remove (20k docs at ~1k tokens each is
# ~80 MB of id arrays sorted in one task — the comfortable ceiling).
WINDOWS_DISTRIBUTED_MIN_ROWS = 20_000


def _check_carry_columns(id_col: str, ids_col: str) -> None:
    """Raise when the carry protocol's columns collide with the caller's.
    ``__ord``/``__ids`` are its working columns and bin/n_docs/n_tokens/
    token_ids/doc_spans its OUTPUT columns: an id column named like either
    would collide inside the union or the materialization with an
    unactionable Catalyst error (review r16: window stores are keyed
    ('bin',), so id_col="bin" is a plausible mistake)."""
    reserved = {"__ord", "__ids", "bin", "n_docs", "n_tokens",
                "token_ids", "doc_spans"}
    if id_col in reserved or ids_col in ("__ord", "__ids"):
        raise ValueError(
            f"column names {sorted(reserved)} are reserved by the carry "
            f"protocol; rename id_col={id_col!r} / ids_col={ids_col!r}"
        )


def _windows_shard_step(
    spark,
    carry: list,
    sh: DataFrame,
    id_col: str,
    ids_col: str,
    capacity: int,
    id_type: str,
    elem: str,
    with_min_id: bool = False,
) -> "tuple[DataFrame, list, int | None, int | None]":
    """ONE shard of the carry-forward window protocol, shared by the batch
    form (:func:`materialize_windows_incremental`) and the streaming store
    (`streaming/corpus.py stream_windows`): union the carry pieces (ordered
    ahead of every document via negative ``__ord``) with the shard's rows
    (id cast guarded non-negative — see the caller's docstring), materialize
    with spans, and rebuild the carry from the boundary partial window.

    Returns ``(win, new_carry, max_bin, min_id)`` — ``win``
    localCheckpointed with LOCAL bins (caller shifts by its own bin
    base), ``new_carry`` the ``[(doc, off, piece)]`` spans of the partial
    window ([] if the shard tiled exactly), ``max_bin`` the shard's
    highest local bin (None when the shard produced no windows), and
    ``min_id`` the shard's lowest document id (None unless
    ``with_min_id``, or when the shard is empty).  ``with_min_id`` folds
    the min-id aggregate into the strategy-count job that materializes
    the input pin — the streaming caller's append-order guard used to be
    its own driver-blocking job per trigger (r18)."""
    _check_carry_columns(id_col, ids_col)
    carry_df = spark.createDataFrame(
        [(d, o - capacity, ids) for (d, o, ids) in carry],
        f"`{id_col}` {id_type}, __ord bigint, __ids array<{elem}>",
    )
    # try_cast: under ANSI mode a plain cast throws its own (correct
    # but less actionable) CAST_INVALID_INPUT before the guard runs
    ord_cast = F.col(id_col).try_cast("bigint")
    ord_guard = F.when(
        ord_cast.isNotNull() & (ord_cast >= 0), ord_cast
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("carry-forward windows: id '"),
                F.col(id_col).cast("string"),
                F.lit(
                    "' does not cast to a non-negative bigint — the "
                    "carry protocol orders boundary pieces at "
                    "negative __ord, so such an id would silently "
                    "corrupt the stream order"
                ),
            )
        )
    )
    # pick the prefix-sum strategy from the shard's ACTUAL size: small
    # shards keep the single-partition window (cheaper by ~2x at bench
    # scale — the two-phase sum is several extra jobs per shard), while a
    # production-sized shard is routed through the distributed form
    # instead of silently serializing in one task (review r15).  The
    # shard is PINNED before the strategy probe so the caller's lineage
    # — arbitrarily expensive through the public
    # materialize_windows_incremental API — executes exactly once: the
    # count and every downstream pass (distributed_cumsum executes its
    # input three times) read the checkpoint, never the lineage
    # (ADVICE r16).
    # lazy checkpoints (r17): the plan is truncated at once, but the pin
    # materializes inside the action that follows it — the strategy
    # count() pins ``inp`` and the fused head aggregate below pins
    # ``win`` — collapsing 4 driver-blocking jobs per shard/trigger to 2.
    inp = carry_df.unionByName(
        sh.select(
            F.col(id_col),
            ord_guard.alias("__ord"),
            F.col(ids_col).alias("__ids"),
        )
    ).localCheckpoint(eager=False)
    if with_min_id:
        # one job returns the strategy count AND the batch's min id (the
        # streaming append-order guard's input): batch rows sit at
        # __ord == id ≥ 0, carry pieces at negative __ord, so the
        # conditional min sees exactly the shard's documents
        st = inp.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.when(F.col("__ord") >= 0, F.col("__ord"))).alias("m"),
        ).first()
        n_rows, min_id = st["n"], (int(st["m"]) if st["m"] is not None else None)
    else:
        n_rows, min_id = inp.count(), None
    distributed = n_rows > WINDOWS_DISTRIBUTED_MIN_ROWS
    win = materialize_packed_windows(
        inp, id_col, "__ids", capacity, order_col="__ord",
        with_spans=True, distributed=distributed,
    ).localCheckpoint(eager=False)
    # max bin + the partial-window row(s) in ONE aggregate job over the
    # checkpointed windows (r17: this ran as two driver-blocking jobs per
    # shard/trigger; collect_list skips the nulls the when() leaves for
    # full windows, so only boundary rows — ≤ capacity tokens by the
    # tiling invariant — ever reach the driver)
    head = win.agg(
        F.max("bin").alias("m"),
        F.collect_list(
            F.when(
                F.col("n_tokens") < capacity,
                F.struct("bin", "n_tokens", "token_ids", "doc_spans"),
            )
        ).alias("p"),
    ).first()
    mb, partial = head["m"], head["p"]
    new_carry: list = []
    if partial:  # by construction only the LAST local bin can be partial
        p = partial[0]
        if len(partial) > 1 or p["bin"] != mb:
            # explicit raise — a bare assert vanishes under python -O
            raise AssertionError(
                "partial window not last — broken tiling: "
                f"{[(r['bin'], r['n_tokens']) for r in partial]} max={mb}"
            )
        new_carry = carry_from_window_row(p)
    return win, new_carry, (int(mb) if mb is not None else None), min_id


def carry_from_window_row(row) -> list:
    """``[(doc, off, piece)]`` carry tuples from a with-spans window row —
    the ONE slicing of ``doc_spans`` into attributed token pieces, shared
    by the batch (:func:`materialize_windows_incremental`) and streaming
    (`streaming/corpus.py stream_windows`) carry protocols so the tuple
    layout can never drift between them."""
    toks = list(row["token_ids"])
    return [
        (s["doc"], int(s["off"]),
         toks[int(s["off"]) : int(s["off"]) + int(s["len"])])
        for s in row["doc_spans"]
    ]


def materialize_windows_incremental(
    shards: "list[DataFrame]",
    id_col: str,
    ids_col: str,
    capacity: int,
) -> DataFrame:
    """The SAME windows as :func:`materialize_packed_windows` (global
    form), materialized shard by shard with carry-forward — the
    incremental-maintenance property a 100 TB ingest needs: as new
    documents append, already-emitted full windows are IMMUTABLE
    (history never re-packs), and the only cross-shard state is the
    boundary partial window — at most ``capacity`` tokens with their
    doc attribution, a bounded O(capacity) carry, collected and re-fed
    as pieces into the next shard's stream.

    Precondition: ``shards`` must partition the corpus into ascending
    ``id_col`` ranges (append order) — the equivalence target is the
    one-shot materialization's ``id_col``-ordered stream, so a shard
    containing ids below a previous shard's would change history.  Each
    shard pays one distributed materialization plus one bounded driver
    action (the fused max-bin + partial-window aggregate — r17); the
    equivalence is hash-certified end to end by
    `windows_incremental_store` against the one-shot oracle.

    Id precondition guard (ADVICE r14): carry pieces order ahead of the
    shard's documents via ``__ord = off - capacity`` (strictly negative,
    ``off < capacity``), so document ids must cast to NON-NEGATIVE
    bigints — a negative id could interleave real documents among the
    carry pieces and a non-numeric id would sort as NULL, both silently
    corrupting the stream order.  The cast is guarded with a per-row
    ``raise_error`` (fail-loud, inside codegen, zero extra jobs) naming
    the offending id."""
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    if not shards:
        raise ValueError("need at least one shard")
    spark = shards[0].sparkSession
    id_type = dict(shards[0].dtypes)[id_col]
    elem = shards[0].schema[ids_col].dataType.elementType.simpleString()
    carry: list = []  # [(doc, off, piece)] — the boundary window's spans
    bin_base = 0
    outs = []
    for sh in shards:
        win, carry, mb, _ = _windows_shard_step(
            spark, carry, sh, id_col, ids_col, capacity, id_type, elem
        )
        outs.append(
            win.filter(F.col("n_tokens") == capacity).select(
                (F.col("bin") + bin_base).alias("bin"),
                "n_docs",
                "n_tokens",
                "token_ids",
            )
        )
        if carry:
            bin_base += int(mb)
        else:
            bin_base += int(mb) + 1 if mb is not None else 0
    if carry:
        flat = [t for _, _, piece in carry for t in piece]
        outs.append(
            spark.createDataFrame(
                [(bin_base, len({d for d, _, _ in carry}), len(flat), flat)],
                f"bin bigint, n_docs bigint, n_tokens bigint, "
                f"token_ids array<{elem}>",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def pack_bestfit(
    df: DataFrame,
    id_col: str,
    token_col: str,
    capacity: int,
    shard_col: str | None = None,
    max_single_task_rows: int | None = PACK_SINGLE_TASK_MAX_ROWS,
) -> DataFrame:
    """Best-fit-decreasing no-split packing: (id, n_tokens[, shard],
    bin, oversize) — documents sorted by token count DESCENDING (ties to
    the smaller id), each placed into the open window with the LEAST
    remaining room that still fits, else a new window.  The classic
    offline bin-packing heuristic (≤ 11/9·OPT + 4 windows): against
    :func:`pack_greedy`'s arrival-order first-fit it trades the
    stream's original document order for measurably fewer windows and
    less padding — the right mode for SFT/eval batch shaping where
    documents must stay whole and order is the loader's to choose
    anyway (`padding_waste_report` quantifies the trade; see
    SCALING.md for the measured comparison).

    Like greedy, the fold is inherently sequential per shard (best-fit
    is not an associative aggregate), so each shard folds inside one
    Arrow batch stream; parallelism comes from ``shard_col``, exactly
    as at production scale.  A SortedList keeps placement
    O(n log open-windows) per shard.  Oversize documents (> capacity)
    get a window of their own, flagged.  A shard larger than
    ``max_single_task_rows`` fails loudly inside the fold (see
    :data:`PACK_SINGLE_TASK_MAX_ROWS`); pass ``None`` to disable."""
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    shard = shard_col
    work = df.select(
        F.col(id_col),
        F.col(token_col).alias("n_tokens"),
        (F.col(shard) if shard else F.lit(0)).alias("__shard"),
    )
    schema_shard = f", `{shard}` {dict(df.dtypes)[shard]}" if shard else ""
    out_schema = (
        f"`{id_col}` {dict(df.dtypes)[id_col]}, n_tokens bigint{schema_shard}, "
        "bin bigint, oversize boolean"
    )

    def fold(pdf):
        import bisect

        import pandas as pd

        _guard_fold_size(pdf, shard, max_single_task_rows, "pack_bestfit")
        pdf = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True], kind="mergesort"
        )
        # open windows as a fill-sorted list of [remaining, bin] pairs
        open_rooms: list = []  # sorted by remaining room ascending
        next_bin = 0
        bins, oversize = [], []
        for n in pdf["n_tokens"]:
            n = int(n)
            if n > capacity:
                bins.append(next_bin)
                oversize.append(True)
                next_bin += 1
                continue
            # smallest remaining room >= n (best fit)
            i = bisect.bisect_left(open_rooms, [n, -1])
            if i < len(open_rooms):
                room, b = open_rooms.pop(i)
                room -= n
                if room > 0:
                    bisect.insort(open_rooms, [room, b])
                bins.append(b)
            else:
                b = next_bin
                next_bin += 1
                room = capacity - n
                if room > 0:
                    bisect.insort(open_rooms, [room, b])
                bins.append(b)
            oversize.append(False)
        cols = {id_col: pdf[id_col], "n_tokens": pdf["n_tokens"].astype("int64")}
        if shard:
            cols[shard] = pdf["__shard"]
        cols["bin"] = pd.Series(bins, index=pdf.index, dtype="int64")
        cols["oversize"] = pd.Series(oversize, index=pdf.index)
        return pd.DataFrame(cols)

    return work.groupBy("__shard").applyInPandas(fold, out_schema)
