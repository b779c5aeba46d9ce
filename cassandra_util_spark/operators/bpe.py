"""BPE vocabulary learning (Sennrich et al., ACL 2016) over a distributed
word-frequency table — the trainable half of the tokenizer family
(``text.bpe_token_estimate`` is the static regex estimator).

Algorithm: start from the word-frequency table with each word segmented
into characters plus a terminal ``</w>`` symbol; each merge step counts
adjacent symbol pairs weighted by word frequency, picks the global argmax
(count desc, then pair lexicographic — a total order), and re-segments
every word by greedily merging non-overlapping occurrences of that pair
left to right.  After N steps the per-word segmentation IS the learned
BPE tokenization, and token counts per document follow by joining words
back to their final segment counts.

Greedy-merge exactness: ``replace(' a b ', ...)`` string surgery silently
skips ADJACENT repeats (the replacement consumes the shared boundary
space — measured in both engines), so the merge here is an array fold:
append each symbol, merging it into the previous one when the pair
matches — which is exactly the reference implementation's left-to-right
non-overlapping semantics, including same-symbol runs (``a a a`` under
pair ``(a,a)`` -> ``aa a``).  The DuckDB oracle replays the same
semantics positionally (match positions -> gaps-and-islands -> keep
even offsets within each island); the equivalence of fold and parity
forms is pinned against a plain-Python reference in tests.

Scale design (100 TB):
- the working state is the WORD-frequency table (vocabulary-sized, not
  corpus-sized): one corpus scan builds it, and merge learning touches
  only this table — the standard trick that makes BPE training tractable
  on web corpora;
- the exact path (``batch=1``) collects the ``(word, cnt)`` table to the
  driver in ONE bounded collect and learns every merge there with the
  reference's incremental loop: pair counts and a pair -> words index,
  the argmax from a lazy-deletion heap, and per merge only the words
  containing the merged pair are rewritten.  The final segmentation is a
  map-only replay of the learned merges over the checkpointed table, so
  training costs a constant number of Spark jobs whatever ``num_merges``
  is.  ``DRIVER_WORDS_MAX`` bounds the collected table;
- above that bound, and for ``batch > 1``, the loop stays distributed:
  each round = one pair-count shuffle (map-side partial sums) + a bounded
  collect (the argmax) + a map-only fold re-segmentation, checkpointed so
  the plan does not grow with the round count.

Reference anchor: iterative global-argmax maintenance is the shape of the
reference's repair/compaction loops (DeletingCompactionStrategy.java's
recompaction cycle); there is no tokenizer in the reference — this is
part of the training-data surface the brief adds.
"""

from __future__ import annotations

import contextlib
import heapq
from collections import defaultdict
from typing import Dict, List, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_util_spark.functions import let_bind
from cassandra_util_spark.operators.text import _norm_tokens

END = "</w>"

# bpe_decode ships the id→symbol map as a constant-folded literal up to
# this many vocab rows (map-only decode, no join/shuffle); above it the
# broadcast-join form avoids tens of thousands of driver-side lit()
# constructions and an O(|vocab|)-literal serialized plan (review r17).
DECODE_LITERAL_MAP_MAX = 8192

# bpe_train(batch=1) learns its merges on the driver when the word table
# has at most this many rows, and runs the distributed loop above it.
# Measured on a 200k-word table (random 2-12 letter words, local[4] on 4
# vCPUs): the collect takes 0.9 s, the driver loop 2.3 s for 10 merges
# and 13.7 s for 1000, against 2.2 s per distributed round; the driver
# holds ~1.5 KB per word (~0.3 GB at the bound), which is what caps it.
DRIVER_WORDS_MAX = 200_000

# the out-of-vocabulary error under oov="raise", around the word: one text
# for the Spark encoder's raise_error and its Arrow twin
_OOV_PREFIX = "bpe encode: out-of-vocabulary word '"
_OOV_SUFFIX = (
    "' has no segmentation — pass merges= so the replay path can segment "
    "unseen words, segment_words() the input's vocabulary first, or "
    "degrade with oov='bytes'"
)


def byte_fallback_syms(word: Column) -> Column:
    """``['<0xNN>', ..., '</w>']`` — the UTF-8 byte-token segmentation of
    an out-of-vocabulary word: one ``<0xNN>`` symbol per byte (uppercase
    hex, the SentencePiece/GPT-2 byte-piece rendering) plus the word
    terminal, so decode restores the boundary like any other word.  Pure
    expression; the encoded binary is let-bound (lambda context is
    CodegenFallback — an unstaged ``encode`` would re-encode the word
    once per byte).  ``<`` cannot appear in a normalized word, so byte
    symbols can never collide with base or merged symbols."""
    return let_bind(
        F.encode(word, "UTF-8"),
        lambda enc: F.concat(
            F.transform(
                F.sequence(F.lit(1), F.octet_length(enc)),
                lambda i: F.concat(
                    F.lit("<0x"),
                    F.hex(F.substring(enc, i, F.lit(1))),
                    F.lit(">"),
                ),
            ),
            F.array(F.lit(END)),
        ),
    )


def byte_fallback_ids(word: Column, byte_base: int, end_id: int) -> Column:
    """The token-ID form of :func:`byte_fallback_syms`: byte value ``v``
    maps to ``byte_base + v`` (the vocabulary's contiguous reserved
    block) plus the ``</w>`` id — computed INLINE as a map-only
    expression, so the fallback costs zero extra scans or joins (it
    evaluates only on the un-covered side of the segmentation join)."""
    return let_bind(
        F.encode(word, "UTF-8"),
        lambda enc: F.concat(
            F.transform(
                F.sequence(F.lit(1), F.octet_length(enc)),
                lambda i: F.conv(
                    F.hex(F.substring(enc, i, F.lit(1))), 16, 10
                ).cast("int")
                + F.lit(byte_base),
            ),
            F.array(F.lit(end_id).cast("int")),
        ),
    )


def word_frequency_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt, syms) — corpus word frequencies with each word's initial
    character segmentation (chars + terminal ``</w>``).  One corpus scan;
    everything after operates on this vocabulary-sized table."""
    return (
        df.select(F.explode(_norm_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "syms",
            F.concat(
                F.expr("regexp_extract_all(word, '.', 0)"),
                F.array(F.lit(END)),
            ),
        )
    )


def merge_pair_expr(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (left, right) in a
    symbol array, as one fold expression (no explode, no UDF)."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (t == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def merge_pairs_expr(syms: Column, pairs: List[Tuple[str, str]]) -> Column:
    """Apply a SYMBOL-DISJOINT pair set in ONE fold pass: the round's pairs
    become a (lhs␀rhs -> merged) map literal and each step consults it once,
    so per-word work is O(len) regardless of how many pairs the round took
    (nesting :func:`merge_pair_expr` is O(len·pairs) and its Catalyst
    analysis cost grows with depth — measured 9.1 s/round at 64 nested folds
    vs flat here).  Exactness relies on disjointness (``_select_disjoint``):
    no pair's symbols are produced or consumed by another pair, so one
    left-to-right pass equals applying the pairs sequentially in any order.
    ␀ (NUL) cannot appear in symbols (text characters + ``</w>``)."""
    flat = []
    for l, r in pairs:
        flat.append(F.lit(l + "\x00" + r))
        flat.append(F.lit(l + r))
    pair_map = F.create_map(*flat)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.size(acc) > 0)
            & F.element_at(
                pair_map, F.concat(F.element_at(acc, -1), F.lit("\x00"), t)
            ).isNotNull(),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.element_at(
                        pair_map,
                        F.concat(F.element_at(acc, -1), F.lit("\x00"), t),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    # fully-merged single-symbol words have no pairs; without the filter,
    # sequence(1, 0) yields the DESCENDING [1, 0] (not empty) and
    # element_at(syms, 2) faults on the 1-element array
    return (
        words.filter(F.size("syms") >= 2)
        .select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda j: F.struct(
                        F.element_at(F.col("syms"), j).alias("lhs"),
                        F.element_at(F.col("syms"), j + 1).alias("rhs"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy("p.lhs", "p.rhs")
        .agg(F.sum("cnt").alias("c"))
    )


def _select_disjoint(rows, m: int) -> List[Tuple[str, str, int]]:
    """Greedy prefix of the argmax order keeping only SYMBOL-DISJOINT pairs:
    a pair is taken iff neither symbol, nor its merged string, collides with
    any symbol or merged string already taken this round.  Disjointness is
    what makes one composed fold pass equal to applying the taken pairs
    sequentially — merging (a,b) cannot create or destroy an adjacency of a
    pair that shares no symbol with it, and blocking the merged string stops
    a later pair from consuming this round's output."""
    used: set = set()
    sel: List[Tuple[str, str, int]] = []
    for r in rows:
        l, rr = r["lhs"], r["rhs"]
        if l in used or rr in used or (l + rr) in used:
            continue
        sel.append((l, rr, int(r["c"])))
        used.update((l, rr, l + rr))
        if len(sel) == m:
            break
    return sel


def _merge_col(pairs: List[Tuple[str, str]]) -> Column:
    """The fold applying one symbol-disjoint pair group to ``syms``."""
    if len(pairs) == 1:
        return merge_pair_expr(F.col("syms"), *pairs[0])
    return merge_pairs_expr(F.col("syms"), pairs)


@contextlib.contextmanager
def _vocab_scoped_shuffle(words: DataFrame):
    """Scope ``spark.sql.shuffle.partitions`` of the merge loop to the
    MATERIALIZED word table's own partition count (never raising it): the
    loop's shuffles are vocabulary-sized, and running a 31-row pair count
    through the session's corpus-scale partition setting pays pure
    per-task/AQE overhead every round (measured r17: 10 rounds 4.0 s →
    3.1 s at sf0.1).  The checkpointed table's partition count is the
    scale proxy — AQE has already coalesced it proportional to the actual
    vocabulary bytes, so a production-sized word table keeps a
    production-sized setting while the bench-sized one drops to 1.
    Partition count never changes results (argmax and fold are
    partitioning-invariant; merge-list equality pinned by the probe and
    the unchanged oracles).

    CONCURRENCY CAVEAT (ADVICE r17): the scoped values are SESSION
    conf mutations — exception-safe via the finally, but any query
    running concurrently on the same SparkSession (an active stream,
    another driver thread) would observe the narrowed width and
    disabled AQE for the scope's duration.  The distributed loop
    (``bpe_train`` with ``batch > 1`` or a word table over
    ``DRIVER_WORDS_MAX``) therefore requires a single-threaded session
    while it runs; a multi-tenant deployment should train on a cloned
    session (``spark.newSession()``), which shares the SparkContext but
    not the conf.  The exact driver path sets no conf."""
    spark = words.sparkSession
    n = max(words.rdd.getNumPartitions(), 1)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if int(prev) <= n:
        yield
        return
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        if n == 1:
            # a single-partition word table makes every loop shuffle a
            # single-task exchange: AQE has nothing to coalesce or
            # skew-split at width 1, and its per-query stage re-planning
            # is measurable against the ~0.25 s round (r17 probe: 10
            # rounds 3.1 s -> 2.7 s).  Production-sized word tables keep
            # n > 1 and therefore keep AQE.
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def _merge_syms(syms: List[str], lhs: str, rhs: str) -> List[str]:
    """:func:`merge_pair_expr` on a Python list: greedy left-to-right
    non-overlapping merge of (lhs, rhs)."""
    out: List[str] = []
    for t in syms:
        if out and out[-1] == lhs and t == rhs:
            out[-1] = lhs + rhs
        else:
            out.append(t)
    return out


def _driver_merges(
    word_cnts: List[Tuple[str, int]], num_merges: int
) -> List[Tuple[int, str, str, int]]:
    """Exact greedy BPE over a collected (word, cnt) table: the reference
    learner's incremental loop.  ``pairs`` holds each adjacent pair's
    frequency-weighted count and ``where`` the words that contain it, so a
    merge rewrites only those words.  The argmax comes from a heap keyed
    ``(-count, lhs, rhs)``, the distributed loop's total order (Python's
    code-point order on str equals Spark's UTF-8 byte order).  Entries are
    deleted lazily: EVERY pair whose count a merge changes is pushed again,
    including pairs the rewritten words no longer contain, and a popped
    entry counts only if it still equals the pair's live count.  Words are
    ``normalize_text`` tokens ([a-z0-9]+), so ``list(w) + [END]`` is the
    word table's initial ``syms``."""
    segs = [list(w) + [END] for w, _ in word_cnts]
    cnts = [c for _, c in word_cnts]
    pairs: Dict[Tuple[str, str], int] = defaultdict(int)
    where: Dict[Tuple[str, str], set] = defaultdict(set)
    for i, syms in enumerate(segs):
        for p in zip(syms, syms[1:]):
            pairs[p] += cnts[i]
            where[p].add(i)
    heap = [(-c, l, r) for (l, r), c in pairs.items()]
    heapq.heapify(heap)
    merges: List[Tuple[int, str, str, int]] = []
    while heap and len(merges) < num_merges:
        neg, l, r = heapq.heappop(heap)
        if pairs.get((l, r)) != -neg:
            continue  # stale: the pair's count changed after this push
        merges.append((len(merges), l, r, -neg))
        delta: Dict[Tuple[str, str], int] = defaultdict(int)
        for i in where.pop((l, r)):
            old, c = segs[i], cnts[i]
            new = _merge_syms(old, l, r)
            if len(new) == len(old):
                continue  # an earlier merge already took the pair's symbols
            segs[i] = new
            for p in zip(old, old[1:]):
                delta[p] -= c
            for p in zip(new, new[1:]):
                delta[p] += c
                where[p].add(i)
        for p, d in delta.items():
            if not d:
                continue
            pairs[p] += d
            if pairs[p]:
                heapq.heappush(heap, (-pairs[p], *p))
            else:
                del pairs[p]
                where.pop(p, None)
    return merges


def _distributed_merges(
    words: DataFrame, num_merges: int, batch: int
) -> Tuple[List[Tuple[int, str, str, int]], DataFrame]:
    """The merge loop as Spark jobs over the checkpointed word table: one
    pair-count shuffle plus a bounded argmax collect per round, taking up
    to ``batch`` symbol-disjoint pairs per round."""
    merges: List[Tuple[int, str, str, int]] = []
    with _vocab_scoped_shuffle(words):
        while len(merges) < num_merges:
            want = min(batch, num_merges - len(merges))
            # over-collect 4x: candidates lost to symbol collisions still
            # leave enough to fill the round; a thin round self-heals next
            # iteration
            top = (
                _pair_counts(words)
                .orderBy(
                    F.col("c").desc(), F.col("lhs").asc(), F.col("rhs").asc()
                )
                .limit(want if want == 1 else 4 * want)
                .collect()
            )
            if not top:
                break  # corpus exhausted (every word a single symbol)
            taken = _select_disjoint(top, want)
            for lhs, rhs, c in taken:
                merges.append((len(merges), lhs, rhs, c))
            col = _merge_col([(l, r) for l, r, _ in taken])
            # lazy checkpoint: the plan is truncated immediately (lineage
            # stays flat in rounds) but materialization rides the NEXT
            # round's pair-count collect — one job per round instead of a
            # checkpoint job plus a collect job.  The final round's table
            # materializes in the caller's first action, as before.
            words = words.withColumn("syms", col).localCheckpoint(eager=False)
    return merges, words


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int = 10,
    batch: int = 1,
) -> Tuple[List[Tuple[int, str, str, int]], DataFrame]:
    """Learn ``num_merges`` BPE merges from the corpus.

    Returns ``(merges, words)``: merges as [(step, lhs, rhs, count)] in
    learned order, and the word table with its FINAL segmentation (word,
    cnt, syms) — the lookup table that tokenizes any text over this vocab.
    Training stops early when every word is a single symbol.

    ``batch=1`` is the exact certified path (bpe_learned_merges oracle).
    The word table is built (one shuffle job) and collected to the driver
    with a bounded ``limit(DRIVER_WORDS_MAX + 1)`` (one job, which also
    fills the table's checkpoint), and the exact greedy runs there
    (``_driver_merges``).  The returned table replays the learned merges
    over the checkpointed table as map-only folds, the same replay
    :func:`segment_words` runs, behind lazy checkpoints that materialize
    in the caller's first action.  So the job count is constant in
    ``num_merges``, and the path touches no session conf.

    A word table over ``DRIVER_WORDS_MAX`` rows, or ``batch > 1``, runs the
    distributed loop instead: one pair-count shuffle plus a bounded argmax
    collect per round, the word table lazily checkpointed per round so
    lineage stays flat.  ``batch`` > 1 amortizes those per-round constants
    by taking up to ``batch`` pairwise symbol-disjoint pairs from each
    round's argmax order and applying them as one composed fold — the
    standard fast-trainer trick.  Within a round the result is EXACTLY the
    sequential application of the taken pairs (disjoint pairs cannot affect
    each other's adjacencies, pinned in tests/test_bpe.py); across rounds
    it is the standard approximation: sequential greedy could prefer a pair
    involving a symbol merged earlier in the same round (counts involving
    fresh merges start from the next round).  Measured on a 15k-word
    vocabulary at sf0.1: 2.0 merges/s sequential -> 22.7 merges/s at
    batch=16 (SCALING.md).

    The distributed loop requires a SINGLE-THREADED SparkSession for the
    training call: it scopes session-level shuffle/AQE confs to the
    vocabulary size (see ``_vocab_scoped_shuffle``) and a concurrent query
    on the same session would observe them; multi-tenant callers should
    train on ``spark.newSession()``."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    # lazy pin: the word table's shuffle runs here, and its result stage
    # rides the first action after it (the collect, or the first round)
    words = word_frequency_table(df, text_col).localCheckpoint(eager=False)
    if batch == 1:
        rows = words.select("word", "cnt").limit(DRIVER_WORDS_MAX + 1).collect()
        if len(rows) <= DRIVER_WORDS_MAX:
            merges = _driver_merges(rows, num_merges)
            final = _replay_merges(words, merges, eager=False)
            return merges, final.localCheckpoint(eager=False)
    return _distributed_merges(words, num_merges, batch)


def bpe_merge_table(spark: SparkSession, merges) -> DataFrame:
    """Learned merges as a DataFrame: (step, lhs, rhs, merged, cnt)."""
    return spark.createDataFrame(
        [(s, l, r, l + r, c) for (s, l, r, c) in merges],
        "step int, lhs string, rhs string, merged string, cnt bigint",
    )


def _ordered_disjoint_batches(
    pairs: List[Tuple[str, str]], batch: int
) -> List[List[Tuple[str, str]]]:
    """Group a learned merge SEQUENCE into contiguous batches of mutually
    symbol-disjoint pairs (same collision rule as ``_select_disjoint``:
    lhs, rhs, and the merged string must all be fresh within the batch).
    Contiguity preserves the learned order across batches, and within a
    batch disjointness makes one composed fold equal to sequential
    application — so replaying the batches in order is EXACTLY the
    sequential replay of the full merge list."""
    batches: List[List[Tuple[str, str]]] = []
    cur: List[Tuple[str, str]] = []
    used: set = set()
    for l, r in pairs:
        if len(cur) >= batch or l in used or r in used or (l + r) in used:
            batches.append(cur)
            cur, used = [], set()
        cur.append((l, r))
        used.update((l, r, l + r))
    if cur:
        batches.append(cur)
    return batches


def _replay_merges(
    words: DataFrame,
    merges: List[Tuple[int, str, str, int]],
    batch: int = 16,
    checkpoint_every: int = 8,
    eager: bool = True,
) -> DataFrame:
    """Re-segment ``words.syms`` by replaying a learned merge list in
    order: contiguous symbol-disjoint batching (``_ordered_disjoint_batches``)
    collapses the ~M folds to ~M/batch composed passes, and a
    localCheckpoint every ``checkpoint_every`` batches keeps the plan flat
    in M (``eager=False`` defers each one to the consuming action, so the
    replay itself runs no job)."""
    pairs = [(l, r) for (_, l, r, _) in merges]
    for i, grp in enumerate(_ordered_disjoint_batches(pairs, batch), 1):
        words = words.withColumn("syms", _merge_col(grp))
        if i % checkpoint_every == 0:
            words = words.localCheckpoint(eager=eager)
    return words


def segment_words(
    vocab: DataFrame,
    merges: List[Tuple[int, str, str, int]],
    batch: int = 16,
    checkpoint_every: int = 8,
) -> DataFrame:
    """(word, syms) — segment ARBITRARY words under a learned merge list
    by replaying the merges in learned order over the word table: the
    out-of-vocabulary half of the tokenizer (a trained word table only
    covers words seen at training time; a crawl shard always brings new
    ones).  One greedy left-to-right pass per merge, each over the state
    left by the previous merges — the same replay ``bpe_train`` uses to
    build the trained table, so an in-vocabulary word re-segmented here
    lands on its trained segmentation exactly (pinned in tests).

    Scale: the input is a DISTINCT-word table (vocabulary-sized, not
    corpus-sized) and every merge is a map-only fold, replayed by
    ``_replay_merges``."""
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    words = vocab.select(
        "word",
        F.concat(
            F.expr("regexp_extract_all(word, '.', 0)"), F.array(F.lit(END))
        ).alias("syms"),
    )
    return _replay_merges(words, merges, batch, checkpoint_every)


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words: DataFrame | None = None,
    merges: List[Tuple[int, str, str, int]] | None = None,
    batch: int = 16,
    oov: str = "raise",
) -> DataFrame:
    """(id, tokens, n_tokens) — the ORDERED BPE token stream per document,
    the actual tokenizer output a training pipeline feeds to packing
    (``bpe_token_profile`` is the count-only budget view).

    Tokenization stays word-local, so the heavy lifting is vocabulary-
    sized: the document stream's DISTINCT words are segmented once —
    reusing the trained table ``words`` where available, replaying
    ``merges`` via :func:`segment_words` for out-of-vocabulary words —
    then the position-indexed word stream joins to its segmentation
    (broadcast for small vocabularies, word-key shuffle at web scale)
    and per-document streams re-assemble ordered.  The output and its
    one (id)-keyed shuffle are ∝ corpus tokens — the information floor
    for producing the stream itself; nothing here is quadratic.

    Documents with no tokens survive as an empty array.  At least one of
    ``words`` / ``merges`` is required; with both, the trained table
    serves in-vocabulary words and the replay covers only the rest.
    With ``words`` ALONE, the ``oov`` policy decides what an
    out-of-vocabulary word does: ``"raise"`` (default) fails the job at
    action time naming the word (the `_assemble_streams` guard — it
    used to be silently dropped, a data-loss footgun on any input
    beyond the training corpus; VERDICT r13 task 2); ``"bytes"``
    degrades the word to its UTF-8 byte tokens (:func:`
    byte_fallback_syms`) — the production shape for encoding NEW data
    against a FROZEN vocabulary, where unseen words arrive with
    probability ~1 at any real scale and a job kill is not a 100 TB
    behavior (the engine's degradation-ladder philosophy; VERDICT r15
    task 2).  With ``merges``, the replay already segments every word,
    so ``oov="bytes"`` is ambiguous and rejected."""
    if oov not in ("raise", "bytes"):
        raise ValueError(f"oov must be 'raise' or 'bytes', got {oov!r}")
    if words is None and merges is None:
        raise ValueError("bpe_encode needs a trained word table or a merge list")
    if oov == "bytes" and merges is not None:
        raise ValueError(
            "oov='bytes' with merges= is ambiguous — the merge replay "
            "already segments unseen words; pass words alone for the "
            "frozen-vocabulary byte-fallback shape"
        )
    vocab = df.select(
        F.explode(_norm_tokens(F.col(text_col))).alias("word")
    ).distinct()
    oov_expr = byte_fallback_syms if oov == "bytes" else None
    if words is not None:
        seg = vocab.join(words.select("word", "syms"), "word")
        if merges is not None:
            unseen = vocab.join(words.select("word"), "word", "left_anti")
            seg = seg.unionByName(segment_words(unseen, merges, batch=batch))
    else:
        seg = segment_words(vocab, merges, batch=batch)
    return _assemble_streams(
        df, id_col, text_col, seg, "string", oov_expr=oov_expr
    )


def _assemble_streams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg: DataFrame,
    elem_type: str,
    oov_expr=None,
) -> DataFrame:
    """(id, tokens, n_tokens) — the ONE stream assembler behind both the
    symbol and id encoders: position-indexed word stream ⨝ per-word
    segment arrays (``seg``: (word, syms array<elem_type>)), ordered
    flatten per document, and a left join back to the base so token-less
    documents survive as empty streams.  The (id)-keyed collect is the
    single corpus-sized shuffle of the encode path — a fix here fixes
    both twins (review r13: the two copies had already begun to drift).

    OOV guard (VERDICT r13 task 2): a word with no row in ``seg`` used to
    vanish through the inner join — silent data loss that desyncs the
    stream from its document on any input beyond the training corpus.
    The join is LEFT with a ``raise_error`` on the uncovered side, so an
    out-of-vocabulary word fails the job LOUDLY, naming the word (the
    spooked-ladder treatment: never silently drop).  Structural, not a
    pre-pass: zero extra jobs, a null-check per row inside codegen, and
    callers with guaranteed coverage (the training corpus itself, the
    streaming encoder's semi-join + replay seg) pay nothing and can
    never fire it.

    With ``oov_expr`` (a ``word Column -> syms Column`` factory, the
    byte-fallback encoders' hook; VERDICT r15 task 2), the un-covered
    side evaluates the fallback expression instead of raising — same
    structural shape (map-only, inside the join projection, zero extra
    scans or joins), with the degrade policy swapped in for the kill."""
    doc_words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_norm_tokens(F.col(text_col))).alias("pos", "word"),
    )
    uncovered = (
        oov_expr(F.col("word"))
        if oov_expr is not None
        else F.raise_error(
            F.concat(F.lit(_OOV_PREFIX), F.col("word"), F.lit(_OOV_SUFFIX))
        )
    )
    guarded = doc_words.join(seg, "word", "left").withColumn(
        "syms",
        F.when(F.col("syms").isNotNull(), F.col("syms")).otherwise(uncovered),
    )
    assembled = (
        guarded
        .groupBy("id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("tokens")
        )
    )
    toks = F.coalesce("tokens", F.array().cast(f"array<{elem_type}>"))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(assembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            toks.alias("tokens"),
            F.size(toks).cast("bigint").alias("n_tokens"),
        )
    )


def bpe_vocab(
    spark: SparkSession,
    words: DataFrame,
    merges: List[Tuple[int, str, str, int]],
    byte_fallback: bool = False,
) -> DataFrame:
    """(id, sym, kind) — the token-id vocabulary induced by training.

    Base symbols (the single characters observed across the trained word
    table, plus the terminal ``</w>``) take ids 0..B-1 in lexicographic
    order; each learned merge takes id B+step.  Normalized text is
    [a-z0-9 ], so merged symbols (length ≥ 2, alphanumeric) can never
    collide with a base symbol or with ``</w>``; two DIFFERENT merges can
    in principle produce the same string (``a``+``bc`` vs ``ab``+``c``) —
    such a duplicate keeps its FIRST id (min), matching the
    first-writer-wins convention of tokenizer vocab files.

    With ``byte_fallback``, 256 reserved byte tokens ``<0xNN>`` (kind
    ``byte``, uppercase hex) take the ids directly above the learned
    vocabulary, at ``B + last_step + 1 + NN`` — the SentencePiece
    ``byte_fallback`` / GPT-2 byte-piece convention that lets a FROZEN
    vocabulary encode any unseen word as its UTF-8 bytes instead of
    killing the job (see :func:`bpe_encode_ids` ``oov="bytes"``).  The
    block is reserved PAST the highest assigned id, so ids of existing
    vocabularies are unchanged; ``<`` cannot appear in a normalized
    word, so byte symbols never collide with base or merged symbols.

    B is a bounded collect: the base alphabet of normalized text is at
    most 37 symbols regardless of corpus size."""
    syms = sorted(
        r["sym"]
        for r in words.select(
            F.explode(
                F.concat(
                    F.expr("regexp_extract_all(word, '.', 0)"),
                    F.array(F.lit(END)),
                )
            ).alias("sym")
        )
        .distinct()
        .collect()
    )
    b = len(syms)
    first_id: dict = {}
    for s, l, r, _ in merges:
        first_id.setdefault(l + r, b + s)
    rows = [(i, s, "base") for i, s in enumerate(syms)] + [
        (i, s, "merge") for s, i in first_id.items()
    ]
    if byte_fallback:
        byte_base = b + (merges[-1][0] + 1 if merges else 0)
        rows += [
            (byte_base + v, f"<0x{v:02X}>", "byte") for v in range(256)
        ]
    return spark.createDataFrame(rows, "id int, sym string, kind string")


def byte_block_bounds(vocab: DataFrame) -> Tuple[int, int]:
    """``(byte_base, end_id)`` of a byte-fallback vocabulary — one
    bounded collect (≤257 rows) fixing the reserved ``<0xNN>`` block and
    the word terminal.  Raises with the remedy when the vocabulary was
    not built with ``bpe_vocab(..., byte_fallback=True)`` (missing or
    non-contiguous byte block, missing ``</w>``): a byte token falling
    to ``unk_id`` would silently destroy the round-trip.  Shared by
    :func:`bpe_encode_ids` and the streaming encoder's SETUP-time check
    (`streaming/corpus.py`), so a misconfigured stream dies before it
    starts rather than inside the first ``foreachBatch`` (ADVICE r16)."""
    special = (
        vocab.filter((F.col("kind") == "byte") | (F.col("sym") == END))
        .select("sym", "id", "kind")
        .collect()
        if "kind" in vocab.columns
        else []
    )
    byte_ids = sorted(r["id"] for r in special if r["kind"] == "byte")
    if len(byte_ids) != 256 or byte_ids != list(
        range(byte_ids[0], byte_ids[0] + 256)
    ):
        raise ValueError(
            "oov='bytes' needs a byte-fallback vocabulary — build it "
            "with bpe_vocab(..., byte_fallback=True) so the <0xNN> "
            "symbols have a contiguous reserved 256-id block "
            f"(found {len(byte_ids)} byte rows)"
        )
    end_ids = [r["id"] for r in special if r["sym"] == END]
    if not end_ids:
        raise ValueError(
            f"oov='bytes' needs the word terminal {END!r} in the "
            "vocabulary (every byte-fallback word ends with it)"
        )
    return byte_ids[0], end_ids[0]


def bpe_encode_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words: DataFrame,
    vocab: DataFrame,
    unk_id: int = -1,
    oov: str = "raise",
    byte_bounds: Tuple[int, int] | None = None,
) -> DataFrame:
    """(id, token_ids, n_tokens) — the per-document TOKEN-ID stream, the
    form a training pipeline actually materializes (``bpe_encode`` is the
    readable-symbol twin).  The symbol→id mapping happens VOCABULARY-side:
    each trained word's segment array maps to an int array once (posexplode
    → broadcast vocab join → ordered re-collect over a table of |vocab|
    words), and only then does the corpus-sized stream assemble — so the
    per-document work and the one (id)-keyed shuffle carry ints, not
    symbol strings.

    A segment symbol absent from ``vocab`` (a character never seen at
    training time, surfaced when ``words`` came from
    :func:`segment_words` over an unseen shard) maps to ``unk_id`` —
    the standard UNK convention; silently dropping it would desync the
    stream from the document (same contract as every tokenizer's
    unk_token).  A WORD absent from ``words`` follows the ``oov``
    policy: ``"raise"`` (default) fails at action time naming the word
    (the `_assemble_streams` guard; VERDICT r13 task 2) — segment the
    input's vocabulary first (:func:`segment_words`) if it may contain
    out-of-vocabulary words; ``"bytes"`` degrades the word to its UTF-8
    byte-token ids (:func:`byte_fallback_ids`), evaluated INLINE on the
    un-covered side of the segmentation join — zero extra scans or
    joins; the only added cost is one bounded (≤257-row) vocab collect
    fixing the reserved block.  Requires a vocabulary built with
    ``bpe_vocab(..., byte_fallback=True)`` (checked loudly, including
    block contiguity: a byte token falling to ``unk_id`` would silently
    destroy the round-trip).  This is the frozen-vocabulary production
    shape: new crawl data encodes without a job kill, and
    :func:`bpe_decode` reassembles the byte runs (VERDICT r15 task 2)."""
    if oov not in ("raise", "bytes"):
        raise ValueError(f"oov must be 'raise' or 'bytes', got {oov!r}")
    oov_expr = None
    if oov == "bytes":
        # byte_bounds: a caller that already validated the vocabulary
        # (the streaming encoder does it once at setup) passes the
        # (byte_base, end_id) pair through instead of re-collecting the
        # byte block on every call — one driver-blocking job per
        # micro-batch on the streaming path (r18)
        base, end = byte_bounds if byte_bounds else byte_block_bounds(vocab)
        oov_expr = lambda w: byte_fallback_ids(w, base, end)  # noqa: E731
    return _assemble_streams(
        df, id_col, text_col, segment_ids(words, vocab, unk_id), "int",
        oov_expr=oov_expr,
    ).withColumnRenamed("tokens", "token_ids")


def segment_ids(words: DataFrame, vocab: DataFrame, unk_id: int = -1) -> DataFrame:
    """(word, syms array<int>) — each word of the table ``words`` with its
    segment array mapped through ``vocab`` to token ids, a symbol absent
    from ``vocab`` mapping to ``unk_id``: the vocabulary-side map
    :func:`bpe_encode_ids` assembles streams from, and the map the
    streaming encoder collects once for :func:`bpe_encode_ids_table`.  A
    word whose segment array is empty or null has no row, so both encoders
    treat it as out of vocabulary."""
    return (
        words.select("word", F.posexplode("syms").alias("j", "sym"))
        .join(F.broadcast(vocab.select("sym", "id")), "sym", "left")
        .groupBy("word")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("j", F.coalesce("id", F.lit(unk_id)).alias("id"))
                )),
                lambda s: s["id"],
            ).alias("syms")
        )
    )


def bpe_encode_ids_table(
    docs,
    id_col: str,
    words_col: str,
    seg,
    oov: str = "raise",
    byte_bounds: Tuple[int, int] | None = None,
):
    """The Arrow form of :func:`bpe_encode_ids`, computed on the driver:
    ``docs`` holds one row per document, ``id_col`` and ``words_col``
    (the document's normalized words, ``_norm_tokens`` of its text,
    never null), and ``seg`` is :func:`segment_ids` collected to Arrow
    (``word``, ``syms``), so symbols outside the vocabulary are already
    ``unk_id``.  Returns (id_col, token_ids list<int32>, n_tokens int64)
    in ``docs``' row order: each document's words map through ``seg``
    and concatenate in order, and a document without words gets an empty
    stream.  A word ``seg`` lacks follows ``oov`` as in
    :func:`bpe_encode_ids`: ``"raise"`` raises ``ValueError`` with the
    Spark encoder's message, ``"bytes"`` encodes it as
    :func:`byte_fallback_ids` does from ``byte_bounds``
    (``(byte_base, end_id)``, required)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if oov not in ("raise", "bytes"):
        raise ValueError(f"oov must be 'raise' or 'bytes', got {oov!r}")
    if oov == "bytes" and byte_bounds is None:
        raise ValueError("oov='bytes' needs byte_bounds=(byte_base, end_id)")
    words = docs[words_col].combine_chunks()
    flat = words.flatten()
    known = seg["word"].combine_chunks().cast(flat.type)
    ids = seg["syms"].combine_chunks()
    idx = pc.index_in(flat, value_set=known)
    if idx.null_count:
        unseen = pc.unique(pc.filter(flat, idx.is_null())).to_pylist()
        if oov == "raise":
            raise ValueError(_OOV_PREFIX + unseen[0] + _OOV_SUFFIX)
        base, end = byte_bounds
        known = pa.concat_arrays([known, pa.array(unseen, flat.type)])
        ids = pa.concat_arrays([ids, pa.array(
            [[base + b for b in w.encode("utf-8")] + [end] for w in unseen],
            ids.type,
        )])
        idx = pc.index_in(flat, value_set=known)
    pieces = ids.take(idx)
    per_word = np.concatenate([[0], np.cumsum(pc.list_value_length(pieces))])
    word_offsets = np.asarray(words.offsets) - words.offsets[0].as_py()
    offsets = per_word[word_offsets]
    return pa.table({
        id_col: docs[id_col],
        "token_ids": pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), pieces.flatten().cast(pa.int32())
        ),
        "n_tokens": pa.array(np.diff(offsets), pa.int64()),
    })


def _reassemble_byte_runs(joined: Column) -> Column:
    """Decode ``<0xNN>`` byte-fallback tokens inside a concatenated
    symbol stream back to their UTF-8 text.  Adjacent byte tokens first
    collapse into one run (a fixed-width lookbehind on the hex pair, so
    the ``>`` closing ``</w>`` never matches) and each run unhexes and
    UTF-8-decodes WHOLE — a multi-byte character split across byte
    tokens reassembles correctly, which per-token decoding cannot do.
    ``<`` only ever starts ``</w>`` or ``<0x`` in a symbol stream (no
    other symbol can contain it), so splitting on ``<0x`` is exact; a
    decoded run that itself CONTAINS ``<0x`` is inert (decoding happens
    after all splitting).  Streams with no byte tokens pass through
    untouched (the split yields one element).  Pure expressions.

    Whole-run assumption, GUARDED (ADVICE r16): reassembly is only
    correct when byte runs arrive intact — i.e. over DOCUMENT streams,
    the encoder's output unit.  A stream sliced at an arbitrary token
    boundary (a capacity-boundary window payload from
    ``materialize_packed_windows`` can cut an OOV word's run
    mid-character) yields a run whose bytes are not valid UTF-8; that
    now raises with the remedy (reassemble per-document via doc_spans
    BEFORE decoding — `reassemble_doc_streams`) instead of silently
    producing U+FFFD replacement characters."""
    runs = F.regexp_replace(joined, "(?<=0x[0-9A-F]{2})><0x", "")
    return F.concat_ws(
        "",
        F.transform(
            F.split(runs, "<0x"),
            lambda p, i: F.when(i == F.lit(0), p).otherwise(
                let_bind(
                    F.unhex(F.substring_index(p, ">", 1)),
                    # invalid hex unhexes to NULL, is_valid_utf8(NULL) is
                    # NULL, and the when falls through to the raise — the
                    # guard covers torn hex pairs and torn characters alike
                    lambda b: F.when(
                        F.is_valid_utf8(b),
                        F.concat(
                            F.decode(b, "UTF-8"),
                            F.substr(p, F.locate(">", p) + F.lit(1)),
                        ),
                    ).otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    "bpe_decode: byte-fallback run <0x"
                                ),
                                F.substring_index(p, ">", 1),
                                F.lit(
                                    "> is not whole UTF-8 — this stream "
                                    "was sliced mid-run (window payload?); "
                                    "reassemble per-document from "
                                    "doc_spans before decoding"
                                ),
                            )
                        )
                    ),
                )
            ),
        ),
    )


def bpe_decode(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    vocab: DataFrame | None = None,
    unk_sym: str = "�",
) -> DataFrame:
    """(id, text) — invert the encoder: concatenate the token stream and
    turn every ``</w>`` terminal back into a word boundary.  BPE merges
    only ever concatenate symbols, so decoding is pure string surgery —
    no vocabulary state beyond the optional id→symbol map — and
    ``decode(encode(text)) == normalize_text(text)`` exactly (the
    lossless-round-trip contract, hash-certified by `bpe_roundtrip_text`
    and the property the whole id-stream representation rests on).

    With ``vocab``, ``tokens_col`` holds token IDS.  Up to
    ``DECODE_LITERAL_MAP_MAX`` rows the id→symbol map ships as ONE
    constant-folded literal map and decoding is MAP-ONLY: no explode, no
    join, no second (id)-keyed shuffle (the r17 rewrite — the previous
    explode → broadcast join → re-collect paid a token-count-sized
    string shuffle for a lookup table that fits in a literal; measured
    2.1× on the window round-trip, and at 100 TB detokenization is a
    spot-check/inspection pass that must stay embarrassingly parallel).
    Above the threshold (a 32k-merge production vocabulary would mean
    ~65k driver-side ``lit`` constructions and a bloated serialized
    plan — review r17) decoding falls back to the broadcast-join form:
    one posexplode + broadcast vocab join + (id)-keyed ordered
    re-collect.  Either way an id without a vocab row (the encoder's
    ``unk_id``) renders as ``unk_sym`` — kept visibly distinct rather
    than dropped, mirroring the encode-side UNK contract.  Without
    ``vocab``, ``tokens_col`` holds symbol strings and decoding is one
    map-side expression.  In all modes ``<0xNN>`` byte-fallback runs
    (the ``oov="bytes"`` encode of unseen words) reassemble to their
    UTF-8 text (:func:`_reassemble_byte_runs`), so the lossless
    round-trip holds for out-of-vocabulary words too."""
    if vocab is not None:
        # bounded collect: vocabulary-sized by construction
        pairs = vocab.select("id", "sym").collect()
        if not pairs:
            raise ValueError(
                "bpe_decode: empty vocabulary — every stream would "
                "render as unk_sym; pass vocab=None for symbol streams"
            )
        ids = [int(r["id"]) for r in pairs]
        if len(set(ids)) != len(ids):
            raise ValueError(
                "bpe_decode: vocabulary carries duplicate ids — rebuild "
                "it with bpe_vocab (first-writer-wins dedup)"
            )
        if len(pairs) <= DECODE_LITERAL_MAP_MAX:
            # two single array literals, NOT 2·|vocab| F.lit calls: the
            # py4j round-trips of per-id lits cost ~3.5 s of driver time
            # per decode construction at a 300-row vocab (measured r17 —
            # the construction-chatter twin of the plan-size concern the
            # DECODE_LITERAL_MAP_MAX cap already documents)
            m = F.map_from_arrays(
                F.lit(ids), F.lit([r["sym"] for r in pairs])
            )
            base = df.select(
                F.col(id_col).alias("id"),
                F.concat_ws(
                    "",
                    F.transform(
                        tokens_col,
                        lambda t: F.coalesce(
                            F.element_at(m, t.cast("int")), F.lit(unk_sym)
                        ),
                    ),
                ).alias("joined"),
            )
            joined = F.col("joined")
        else:
            exploded = df.select(
                F.col(id_col).alias("id"),
                F.posexplode(tokens_col).alias("j", "tid"),
            )
            mapped = (
                exploded.join(
                    F.broadcast(
                        vocab.select(F.col("id").alias("tid"), "sym")
                    ),
                    "tid",
                    "left",
                )
                .groupBy("id")
                .agg(
                    F.concat_ws(
                        "",
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct(
                                        "j",
                                        F.coalesce(
                                            "sym", F.lit(unk_sym)
                                        ).alias("sym"),
                                    )
                                )
                            ),
                            lambda s: s["sym"],
                        ),
                    ).alias("joined")
                )
            )
            base = df.select(F.col(id_col).alias("id")).join(
                mapped, "id", "left"
            )
            joined = F.coalesce("joined", F.lit(""))
    else:
        base = df.select(
            F.col(id_col).alias("id"),
            F.concat_ws("", F.col(tokens_col)).alias("joined"),
        )
        joined = F.col("joined")
    return base.select(
        F.col("id").alias(id_col),
        F.trim(
            F.replace(
                _reassemble_byte_runs(joined), F.lit(END), F.lit(" ")
            )
        ).alias("text"),
    )


def bpe_token_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words: DataFrame,
) -> DataFrame:
    """(id, n_words, n_bpe_tokens) — tokenize every document under the
    learned vocabulary by joining its words to their final segment counts
    (BPE is word-local, so the per-word segmentation IS the tokenizer).
    The join is broadcast when the vocab is small; at web scale it is a
    shuffle on the word key — either way no per-document re-segmentation
    runs, which is the point of training on the frequency table."""
    seg = words.select("word", F.size("syms").alias("n_seg"))
    doc_words = df.select(
        F.col(id_col).alias("id"),
        F.explode(_norm_tokens(F.col(text_col))).alias("word"),
    )
    return (
        doc_words.join(seg, "word")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_seg").alias("n_bpe_tokens"),
        )
        .select(F.col("id").alias(id_col), "n_words", "n_bpe_tokens")
    )
