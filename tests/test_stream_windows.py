"""Streaming window materialization (streaming/corpus.py stream_windows):
the streamed store's merged view must equal the one-shot batch windows
regardless of micro-batch boundaries — including documents spanning batch
AND window boundaries — and the carry protocol must be restart-safe (the
carry is reconstructed from the store, never driver memory)."""

from __future__ import annotations

import os
import time

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cassandra_util_spark.core.table import TableMeta
from cassandra_util_spark.operators.packing import materialize_packed_windows
from cassandra_util_spark.sources.runs import RunStore
from cassandra_util_spark.streaming.corpus import stream_windows

# Document streams sized so several span window boundaries at capacity=8
# (doc 3 alone is three windows long) and the final window is partial.
DOCS = [
    (0, [1, 2, 3]),
    (1, [4, 5, 6, 7, 8]),
    (2, [9]),
    (3, list(range(10, 35))),   # 25 tokens: spans many windows
    (4, []),                    # empty stream
    (5, [35, 36, 37, 38, 39, 40, 41]),
    (6, [42, 43]),
    (7, list(range(44, 57))),   # 13 tokens
    (8, [57, 58, 59]),
]
CAPACITY = 8


def _write_shards(tmp_path_factory, d, cuts):
    """Ascending doc-id range shards as separate files with pinned mtimes
    so the file source delivers them in append order."""
    src = str(tmp_path_factory.mktemp("win-stream-src-"))
    lo = None
    now = time.time()
    for k, hi in enumerate(cuts + [None]):
        sh = d
        if lo is not None:
            sh = sh.filter(F.col("doc_id") > lo)
        if hi is not None:
            sh = sh.filter(F.col("doc_id") <= hi)
        sub = os.path.join(src, f"shard-{k:02d}")
        sh.coalesce(1).write.parquet(sub)
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + k, now + k))
        lo = hi
    return [os.path.join(src, p) for p in sorted(os.listdir(src))], src


def _new_store(tmp_path_factory):
    return RunStore(
        str(tmp_path_factory.mktemp("win-store-")),
        TableMeta(("bin",), (), "writetime"),
    )


def _drain(spark, paths, store, cp, **kw):
    stream = (
        spark.readStream.schema("doc_id bigint, token_ids array<int>")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(*paths) if len(paths) == 1 else None
    )
    if stream is None:  # glob over the parent dir
        parent = os.path.dirname(paths[0])
        stream = (
            spark.readStream.schema("doc_id bigint, token_ids array<int>")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(os.path.join(parent, "shard-*"))
        )
    q = stream_windows(stream, store, cp, CAPACITY, **kw)
    q.awaitTermination(300)


def _view(spark, store):
    return {
        int(r["bin"]): (int(r["n_docs"]), int(r["n_tokens"]),
                        list(r["token_ids"]))
        for r in store.read_merged(spark)
        .select("bin", "n_docs", "n_tokens", "token_ids")
        .collect()
    }


def _want(spark, d):
    return {
        int(r["bin"]): (int(r["n_docs"]), int(r["n_tokens"]),
                        list(r["token_ids"]))
        for r in materialize_packed_windows(
            d, "doc_id", "token_ids", CAPACITY
        ).collect()
    }


def test_streamed_windows_equal_one_shot(spark, tmp_path_factory):
    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, _ = _write_shards(tmp_path_factory, d, cuts=[2, 5])
    store = _new_store(tmp_path_factory)
    _drain(spark, paths, store, str(tmp_path_factory.mktemp("win-cp-")))
    assert _view(spark, store) == _want(spark, d)
    # attribution rides along: spans tile every window exactly
    for r in store.read_merged(spark).collect():
        spans = sorted(
            (int(s["off"]), int(s["len"])) for s in r["doc_spans"]
        )
        pos = 0
        for off, ln in spans:
            assert off == pos
            pos += ln
        assert pos == int(r["n_tokens"])


def test_restart_continues_from_store_carry(spark, tmp_path_factory):
    """Drain shards 0-1, stop, then RESTART the same checkpoint after
    shard 2 lands: the carry must come back from the store's partial
    window (no driver state survives the restart), and the final view
    still equals the one-shot windows."""
    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, src = _write_shards(tmp_path_factory, d, cuts=[2, 5])
    store = _new_store(tmp_path_factory)
    live = os.path.join(src, "live")
    os.makedirs(live)
    for p in paths[:2]:
        os.symlink(p, os.path.join(live, os.path.basename(p)))
    cp = str(tmp_path_factory.mktemp("win-cp-"))

    def _run():
        stream = (
            spark.readStream.schema("doc_id bigint, token_ids array<int>")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(os.path.join(live, "shard-*"))
        )
        q = stream_windows(stream, store, cp, CAPACITY)
        q.awaitTermination(300)

    _run()
    runs_before = sorted(store.live_runs())
    assert len(runs_before) == 2
    os.symlink(paths[2], os.path.join(live, os.path.basename(paths[2])))
    _run()
    assert len(store.live_runs()) > len(runs_before)
    assert _view(spark, store) == _want(spark, d)


def test_replay_is_idempotent(spark, tmp_path_factory):
    """Restarting the SAME checkpoint after a full drain appends nothing
    (availableNow finds no new files; the mark guard covers a forced
    replay), and the view is unchanged."""
    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, _ = _write_shards(tmp_path_factory, d, cuts=[4])
    store = _new_store(tmp_path_factory)
    cp = str(tmp_path_factory.mktemp("win-cp-"))
    _drain(spark, paths, store, cp, txn_app_id="win-replay")
    view1 = _view(spark, store)
    runs1 = sorted(store.live_runs())
    _drain(spark, paths, store, cp, txn_app_id="win-replay")
    assert sorted(store.live_runs()) == runs1
    assert _view(spark, store) == view1


def test_out_of_order_batch_raises(spark, tmp_path_factory):
    """A batch whose ids fall at or below a carried document's must fail
    loudly — silently re-packing emitted windows is data corruption."""
    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, src = _write_shards(tmp_path_factory, d, cuts=[5])
    store = _new_store(tmp_path_factory)
    # deliver shard 1 (ids 6-8) FIRST, then shard 0 (ids 0-5)
    for p, name in [(paths[1], "a"), (paths[0], "b")]:
        os.symlink(p, os.path.join(src, f"re-{name}"))
    stream = (
        spark.readStream.schema("doc_id bigint, token_ids array<int>")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(os.path.join(src, "re-*"))
    )
    now = time.time()
    for k, name in enumerate(["re-a", "re-b"]):
        tgt = os.path.join(src, name)
        for root, _, files in os.walk(tgt, followlinks=True):
            for f in files:
                os.utime(os.path.join(root, f), (now + k, now + k))
    q = stream_windows(
        stream, store, str(tmp_path_factory.mktemp("win-cp-")), CAPACITY,
    )
    with pytest.raises(Exception, match="ascending id order"):
        q.awaitTermination(300)
        raise RuntimeError("stream should have failed")


def test_store_key_contract(spark, tmp_path_factory):
    bad = RunStore(
        str(tmp_path_factory.mktemp("win-bad-")),
        TableMeta(("doc_id",), (), "writetime"),
    )
    with pytest.raises(ValueError, match="keyed \\('bin',\\)"):
        stream_windows(None, bad, "/tmp/x", CAPACITY)


def test_loader_bounded_read_prunes_runs(spark, tmp_path_factory):
    """The loader read path: a bin-bounded read of the window store skips
    runs whose bin range excludes the bound (the per-run skip index) and
    returns exactly the bounded windows — what lets a trainer mount one
    shard of a 100 TB window store without touching the rest."""
    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, _ = _write_shards(tmp_path_factory, d, cuts=[2, 5])
    store = _new_store(tmp_path_factory)
    _drain(spark, paths, store, str(tmp_path_factory.mktemp("win-cp-")))
    all_bins = _view(spark, store)
    hi = max(all_bins)
    lo = hi // 2
    got = {
        int(r["bin"])
        for r in store.read_merged(spark, key_lower=lo, key_upper=hi)
        .select("bin").collect()
    }
    assert got == {b for b in all_bins if lo <= b <= hi}
    # pruning is real: a bound past every bin reads zero runs' rows
    assert store.prune_runs(hi + 100, hi + 200) == []


@pytest.mark.slow
def test_singleton_batches_equal_one_shot(spark, tmp_path_factory):
    """One document per micro-batch (9 batches, maximal carry churn —
    every boundary partial is rebuilt 8 times): the merged view must
    still equal the one-shot windows."""
    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, _ = _write_shards(tmp_path_factory, d, cuts=list(range(8)))
    assert len(paths) == 9
    store = _new_store(tmp_path_factory)
    _drain(spark, paths, store, str(tmp_path_factory.mktemp("win-cp-")))
    assert _view(spark, store) == _want(spark, d)


@pytest.mark.slow
def test_compaction_interleaves_with_carry(spark, tmp_path_factory):
    """maintain_every folds runs WHILE the stream ingests: the carry
    read's writetime-stats exclusion and skip-index bound must survive
    compacted (mixed-writetime) runs, and the final view still equals
    the one-shot windows."""
    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, _ = _write_shards(tmp_path_factory, d, cuts=[1, 3, 5, 6])
    store = _new_store(tmp_path_factory)
    _drain(
        spark, paths, store, str(tmp_path_factory.mktemp("win-cp-")),
        maintain_every=2, min_threshold=2,
    )
    assert _view(spark, store) == _want(spark, d)
    # compaction actually happened: fewer live runs than batches
    assert len(store.live_runs()) < 5


@pytest.mark.slow
def test_masks_from_store_equal_one_shot(spark, tmp_path_factory):
    """The soft-removal production flow: windows live in the store,
    a verdict table arrives later, and loss masks computed from the
    store's read view (spans round-tripped through parquet) equal masks
    computed from the one-shot in-memory windows."""
    from cassandra_util_spark.operators.packing import loss_mask_windows

    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, _ = _write_shards(tmp_path_factory, d, cuts=[2, 5])
    store = _new_store(tmp_path_factory)
    _drain(spark, paths, store, str(tmp_path_factory.mktemp("win-cp-")))
    keep = spark.createDataFrame(
        [(i, i % 3 != 0) for i, _ in DOCS], "doc bigint, keep boolean"
    )
    got = {
        r["bin"]: (r["n_tokens"], r["masked_tokens"], r["mask"])
        for r in loss_mask_windows(store.read_merged(spark), keep).collect()
    }
    one_shot = materialize_packed_windows(
        d, "doc_id", "token_ids", CAPACITY, with_spans=True
    )
    want = {
        r["bin"]: (r["n_tokens"], r["masked_tokens"], r["mask"])
        for r in loss_mask_windows(one_shot, keep).collect()
    }
    assert got == want


def test_out_of_order_after_exact_tiling_raises(spark, tmp_path_factory):
    """Review r15: when the boundary tiles to a FULL window the carry is
    empty, but the append-order guard must STILL fire — the high-water
    doc id comes from the max-bin row's spans, not from the carry."""
    # batch 0: docs 10+11 = exactly one full window (8 tokens), no carry
    full = spark.createDataFrame(
        [(10, [1, 2, 3, 4, 5]), (11, [6, 7, 8])],
        "doc_id bigint, token_ids array<int>",
    )
    # batch 1: doc 5 — below every windowed id
    late = spark.createDataFrame(
        [(5, [9, 9])], "doc_id bigint, token_ids array<int>"
    )
    src = str(tmp_path_factory.mktemp("win-oo-src-"))
    now = time.time()
    for k, sh in enumerate([full, late]):
        sub = os.path.join(src, f"shard-{k:02d}")
        sh.coalesce(1).write.parquet(sub)
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + k, now + k))
    store = _new_store(tmp_path_factory)
    stream = (
        spark.readStream.schema("doc_id bigint, token_ids array<int>")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(os.path.join(src, "shard-*"))
    )
    q = stream_windows(
        stream, store, str(tmp_path_factory.mktemp("win-oo-cp-")), CAPACITY,
    )
    with pytest.raises(Exception, match="ascending id order"):
        q.awaitTermination(300)
        raise RuntimeError("stream should have failed")


class _StatsOnlyStore:
    """Duck-typed stand-in for the stats-only surface _prior_max_bin_runs
    touches (run_stats + live_runs) — no filesystem, no Spark."""

    def __init__(self, stats):
        self._stats = stats

    def run_stats(self):
        return dict(self._stats)

    def live_runs(self):
        return list(self._stats)


def test_unusable_writetime_stats_degrade_to_unbounded_read():
    """ADVICE r16: a crashed-attempt run whose writetime stats were
    stringified (json.dump(default=str)) escapes the wt-min exclusion;
    folding its bin max into key_lower while the writetime-bounded read
    drops its rows would return NO prior rows and silently re-base bins
    at 0.  Unusable writetime stats must degrade the prune bound to the
    unbounded read (the writetime extra_bound keeps it correct)."""
    from cassandra_util_spark.streaming.corpus import _prior_max_bin_runs

    real_prior = {
        "rows": 1,
        "columns": {"bin": {"min": 0, "max": 0}, "writetime": {"min": 0, "max": 0}},
    }
    crashed_stringified = {
        "rows": 5,
        "columns": {"bin": {"min": 1, "max": 5}, "writetime": {"min": "1", "max": "1"}},
    }
    # crashed run's bin max must NOT become the prune bound
    got = _prior_max_bin_runs(
        _StatsOnlyStore({"r0": real_prior, "r1": crashed_stringified}), 1
    )
    assert got == (None,)
    # absent writetime stats: same degrade
    no_wt = {"rows": 5, "columns": {"bin": {"min": 1, "max": 5}}}
    assert _prior_max_bin_runs(
        _StatsOnlyStore({"r0": real_prior, "r1": no_wt}), 1
    ) == (None,)
    # usable stats keep the pruned read
    prior2 = {
        "rows": 3,
        "columns": {"bin": {"min": 1, "max": 3}, "writetime": {"min": 0, "max": 0}},
    }
    assert _prior_max_bin_runs(
        _StatsOnlyStore({"r0": real_prior, "r2": prior2}), 1
    ) == (3,)
    # a genuine own-run (usable int writetime == batch_id) stays excluded
    own = {
        "rows": 9,
        "columns": {"bin": {"min": 1, "max": 9}, "writetime": {"min": 1, "max": 1}},
    }
    assert _prior_max_bin_runs(
        _StatsOnlyStore({"r0": real_prior, "r3": own}), 1
    ) == (0,)


def test_epoch_plan_from_store_equals_in_memory_twin(spark, tmp_path_factory):
    """VERDICT r15 task 4 (store-backed loader plan): the epoch-shuffle
    plan computed from the PERSISTED window store's merged view must
    equal the plan over the in-memory one-shot windows row-for-row —
    and, because the plan needs only (bin, n_tokens), the store read
    must prune the token arrays out of its ReadSchema entirely (the
    loader PLAN reads window metadata, not the token payload)."""
    from cassandra_util_spark.operators.packing import epoch_shuffle_plan

    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, _ = _write_shards(tmp_path_factory, d, cuts=[2, 5])
    store = _new_store(tmp_path_factory)
    _drain(spark, paths, store, str(tmp_path_factory.mktemp("win-cp-")))
    view = store.read_merged(spark).select("bin", "n_tokens")
    from_store = epoch_shuffle_plan(view, epochs=2, num_shards=3, seed="eq")
    one_shot = materialize_packed_windows(
        d, "doc_id", "token_ids", capacity=CAPACITY
    )
    in_memory = epoch_shuffle_plan(one_shot, epochs=2, num_shards=3, seed="eq")
    assert sorted(map(tuple, from_store.collect())) == sorted(
        map(tuple, in_memory.collect())
    )
    # column pruning reaches the store scan: no token payload in ReadSchema
    plan = from_store._sc._jvm.PythonSQLUtils.explainString(
        from_store._jdf.queryExecution(), "formatted"
    )
    reads = [seg[:400] for seg in plan.split("ReadSchema: ")[1:]]
    assert reads, "expected at least one scan node"
    for seg in reads:
        assert "token_ids" not in seg.split("\n", 1)[0]
    assert "doc_spans" not in plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]


def test_stream_windows_on_a_monotone_order_key(spark, tmp_path_factory):
    """The carry protocol is keyed on ANY monotone non-negative bigint,
    not just doc ids: streaming a curriculum-ordered corpus keyed on
    ord = stage·100 + doc (one micro-batch per stage, ascending) must
    reproduce the one-shot windows materialized with order_col=ord —
    the mechanism behind curriculum_windows_from_store."""
    stages = {0: 1, 1: 0, 2: 2, 3: 0, 5: 1, 6: 2, 7: 0, 8: 1}
    rows = [
        (d, stages.get(d, 2) * 100 + d, ids) for (d, ids) in DOCS if ids
    ] + [(4, stages.get(4, 2) * 100 + 4, [])]
    d = spark.createDataFrame(
        rows, "doc_id bigint, ord bigint, token_ids array<int>"
    )
    want = {
        r["bin"]: (r["n_docs"], r["n_tokens"], list(r["token_ids"]))
        for r in materialize_packed_windows(
            d.select(F.col("ord").alias("doc_id"), "token_ids"),
            "doc_id", "token_ids", capacity=CAPACITY,
        ).collect()
    }
    src = str(tmp_path_factory.mktemp("win-cur-src-"))
    now = time.time()
    for k in range(3):
        sub = os.path.join(src, f"shard-{k:02d}")
        d.filter((F.col("ord") >= k * 100) & (F.col("ord") < (k + 1) * 100)) \
            .select("ord", "token_ids").coalesce(1).write.parquet(sub)
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + k, now + k))
    store = _new_store(tmp_path_factory)
    stream = (
        spark.readStream.schema("ord bigint, token_ids array<int>")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(os.path.join(src, "shard-*"))
    )
    q = stream_windows(
        stream, store, str(tmp_path_factory.mktemp("win-cur-cp-")), CAPACITY,
        id_col="ord",
    )
    q.awaitTermination(300)
    got = {
        r["bin"]: (r["n_docs"], r["n_tokens"], list(r["token_ids"]))
        for r in store.read_merged(spark).collect()
    }
    assert got == want


def test_reserved_column_names_rejected_loudly(spark):
    """Review r16: an id column named like the protocol's working or
    OUTPUT columns (window stores are keyed ('bin',), so id_col='bin' is
    a plausible mistake) must be a named ValueError, not a deep Catalyst
    error inside the union or the materialization."""
    for bad in ("__ord", "__ids", "bin", "n_tokens", "token_ids"):
        d = spark.createDataFrame(
            [(0, [1, 2])], f"`{bad}` bigint, ids array<int>"
        )
        with pytest.raises(Exception, match="reserved by the carry"):
            from cassandra_util_spark.operators.packing import (
                _windows_shard_step,
            )

            _windows_shard_step(
                spark, [], d, bad, "ids", 4, "bigint", "int"
            )


def test_doc_lookup_filters_spans_before_reassembly(spark, tmp_path_factory):
    """The random-access lookup shape (`windows_doc_lookup`): restore
    ONE document from a bin-bounded store read.  The attribution spans
    must be filtered to the wanted doc BEFORE reassembly — boundary
    windows are shared with neighbors whose remaining pieces live
    outside the bounded read, so an unfiltered reassembly would hand
    back torn neighbor streams as if they were whole."""
    from cassandra_util_spark.operators.packing import reassemble_doc_streams

    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, _ = _write_shards(tmp_path_factory, d, cuts=[2, 5])
    store = _new_store(tmp_path_factory)
    _drain(spark, paths, store, str(tmp_path_factory.mktemp("win-cp-")))
    # doc 7 (13 tokens) spans multiple windows; find its bin range from
    # the spans (the doc→bin index step)
    spans = (
        store.read_merged(spark)
        .select("bin", F.explode("doc_spans").alias("s"))
        .filter(F.col("s")["doc"] == 7)
        .agg(F.min("bin").alias("lo"), F.max("bin").alias("hi"))
        .first()
    )
    win = store.read_merged(
        spark, key_lower=int(spans["lo"]), key_upper=int(spans["hi"])
    ).select(
        "bin",
        "token_ids",
        F.filter("doc_spans", lambda s: s["doc"] == 7).alias("doc_spans"),
    )
    got = reassemble_doc_streams(win).collect()
    assert len(got) == 1 and list(got[0]["token_ids"]) == list(range(44, 57))
    # the hazard the filter removes: unfiltered reassembly of the SAME
    # bounded read hands back a neighbor's stream torn to its in-range
    # pieces only
    unfiltered = {
        r["doc_id"]: list(r["token_ids"])
        for r in reassemble_doc_streams(
            store.read_merged(
                spark, key_lower=int(spans["lo"]), key_upper=int(spans["hi"])
            ).select("bin", "token_ids", "doc_spans")
        ).collect()
    }
    full = {i: ids for i, ids in DOCS}
    torn = {i for i, ids in unfiltered.items() if ids != full[i]}
    assert torn, "expected at least one torn neighbor in the bounded read"


@pytest.mark.slow
def test_doc_lookup_empty_range_returns_zero_rows_not_crash(spark, tmp_path_factory):
    """An all-empty looked-up doc range has no spans and therefore no
    bins to read: the lookup must render those docs as (0, 0, '') —
    exactly what the oracle's LEFT JOIN does — instead of crashing on
    the NULL min/max bin aggregate (review r17)."""
    import os
    
    from cassandra_util_spark.entry_queries import QUERIES

    # mx=20 puts the lookup range [2·20//5, 9·20//20] = [8, 9]; docs 8
    # and 9 normalize to zero tokens while the rest carry text
    rows = [
        (i, "" if i in (8, 9) else f"word{i} common text", "en", "s0",
         10)
        for i in range(21)
    ]
    sf = str(tmp_path_factory.mktemp("lookup-edge-"))
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    out = QUERIES["windows_doc_lookup"](spark, sf).collect()
    got = {r["doc_id"]: (r["n_windows"], r["n_tokens"], r["restored"])
           for r in out}
    assert got == {8: (0, 0, ""), 9: (0, 0, "")}


def test_pinned_shard_src_one_file_per_shard_and_empty_backfill(spark, tmp_path):
    """r17: the tagged one-job shard write must keep the drain contract —
    exactly one part file per shard dir, ascending pinned mtimes, and an
    EMPTY shard still materializes a (zero-row) parquet dir so its
    micro-batch (and hence every later batch id / writetime) survives."""
    import glob
    import os

    from pyspark.sql import functions as F

    from cassandra_util_spark.entry_queries import _pinned_shard_src

    d = spark.createDataFrame(
        [(i, [i, i + 1]) for i in range(30)],
        "doc_id bigint, token_ids array<bigint>",
    )
    shards = [
        d.filter(F.col("doc_id") < 10),
        d.filter(F.col("doc_id") < 0),  # EMPTY middle shard
        d.filter(F.col("doc_id") >= 10),
    ]
    src = _pinned_shard_src(shards, ["doc_id", "token_ids"], "t17")
    mtimes = []
    total = 0
    for k in range(3):
        sub = os.path.join(src, f"shard-{k:02d}")
        parts = glob.glob(os.path.join(sub, "*.parquet")) or [
            p for p in glob.glob(os.path.join(sub, "part-*")) if not p.endswith(".crc")
        ]
        assert len(parts) == 1, (k, parts)
        mtimes.append(os.path.getmtime(parts[0]))
        rows = spark.read.schema("doc_id bigint, token_ids array<bigint>").parquet(sub)
        total += rows.count()
        if k == 1:
            assert rows.count() == 0
    assert mtimes == sorted(mtimes) and mtimes[0] < mtimes[1] < mtimes[2]
    assert total == 30


def test_pinned_shard_src_guards(spark):
    """r18 ADVICE: an empty shard list must raise a named error (it used
    to IndexError on shard_frames[0]), and a session with
    spark.sql.files.maxRecordsPerFile set must refuse — a split shard
    would break the one-file-per-trigger batch ordering."""
    from cassandra_util_spark.entry_queries import _pinned_shard_src

    with pytest.raises(ValueError, match="at least one shard frame"):
        _pinned_shard_src([], ["doc_id"], "t18")
    d = spark.createDataFrame([(1, [1])], "doc_id bigint, token_ids array<bigint>")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        with pytest.raises(RuntimeError, match="maxRecordsPerFile"):
            _pinned_shard_src([d], ["doc_id", "token_ids"], "t18")
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")


def test_pinned_shard_src_refuses_a_shard_with_two_part_files(spark, monkeypatch):
    """Micro-batch k is shard k only while every shard dir holds exactly
    one parquet part file: a second part file in a shard raises before
    any drain reads the source."""
    import glob
    import os
    import shutil

    from cassandra_util_spark.entry_queries import _pinned_shard_src

    rename = os.rename

    def rename_and_split(a, b):
        rename(a, b)
        part = sorted(glob.glob(os.path.join(b, "*.parquet")))[0]
        shutil.copy(part, part.replace(".parquet", "-copy.parquet"))

    monkeypatch.setattr(os, "rename", rename_and_split)
    d = spark.createDataFrame([(1, [1]), (2, [2])], "doc_id bigint, token_ids array<bigint>")
    with pytest.raises(RuntimeError, match="shard-00 holds .*not exactly one parquet part file"):
        _pinned_shard_src([d], ["doc_id", "token_ids"], "two-parts")


def test_drain_runner_stops_a_drain_that_times_out(spark):
    """A drain still running when the await times out is stopped and
    raises TimeoutError naming the query; the scoped shuffle-partition
    setting is restored on the way out."""
    from cassandra_util_spark.entry_queries import _run_drain

    class SlowDrain:
        stopped = False

        def awaitTermination(self, timeout):
            self.partitions = spark.conf.get("spark.sql.shuffle.partitions")
            return False

        def stop(self):
            self.stopped = True

    q = SlowDrain()
    checkpoints = []
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def start(cp):
        checkpoints.append(cp)
        return q

    with pytest.raises(TimeoutError, match="slow_view"):
        _run_drain(spark, "slow_view", start)
    assert q.stopped and q.partitions == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert len(checkpoints) == 1 and os.path.isdir(checkpoints[0])


def test_contract_queries_drain_only_through_the_runner():
    """entry_queries opens a file stream in one place (`_shard_stream`)
    and awaits a drain in one place (`_run_drain`), so no query can
    hand-roll a drain that ignores the timeout.  Its fixtures are built
    in one place too: the `_BPE_N` tokenizer is trained only in
    `_tokenizer`, its id vocabulary is built only in `_vocab`, and
    `tempfile` is imported once, at module level, so no query grows its
    own copy of a fixture that can drift from its oracle."""
    from cassandra_util_spark import entry_queries

    with open(entry_queries.__file__) as f:
        src = f.read()
    assert src.count("awaitTermination(") == 1
    assert src.count("readStream") == 1
    assert src.count("num_merges=_BPE_N)") == 1
    assert src.count("bpe_vocab(spark, words, merges)") == 1
    assert src.count("import tempfile") == 1


def test_tokenizer_fixture_is_not_memoized(spark, count_jobs):
    """Two builds of the contract queries' tokenizer fixture each train
    from scratch: the same, nonzero number of jobs both times."""
    from cassandra_util_spark.entry_queries import _tokenizer

    sf = "/root/testdata/sf0.001"  # the smoke scale, TESTDATA.md
    (_, merges_a, _), jobs_a = count_jobs("tokenizer-a", lambda: _tokenizer(spark, sf))
    (_, merges_b, _), jobs_b = count_jobs("tokenizer-b", lambda: _tokenizer(spark, sf))
    assert jobs_a == jobs_b > 0
    assert merges_a == merges_b


def test_shard_step_min_id_rides_strategy_count(spark):
    """r18: with_min_id folds the streaming append-order guard's min-id
    into the strategy-count job.  The returned min must be the SHARD's
    lowest id (carry pieces sit at negative __ord and are excluded), and
    None for an empty shard."""
    from cassandra_util_spark.operators.packing import _windows_shard_step

    sh = spark.createDataFrame(
        [(7, [1, 2, 3]), (9, [4, 5])], "doc_id bigint, token_ids array<bigint>"
    )
    carry = [(3, 0, [8, 8])]  # doc 3's boundary piece — must not win the min
    win, new_carry, mb, mn = _windows_shard_step(
        spark, carry, sh, "doc_id", "token_ids", 4, "bigint", "bigint",
        with_min_id=True,
    )
    assert mn == 7
    empty = sh.filter(F.col("doc_id") < 0)
    _, _, _, mn2 = _windows_shard_step(
        spark, [], empty, "doc_id", "token_ids", 4, "bigint", "bigint",
        with_min_id=True,
    )
    assert mn2 is None
    # default path keeps the 4-tuple shape with min_id=None
    _, _, _, mn3 = _windows_shard_step(
        spark, [], sh, "doc_id", "token_ids", 4, "bigint", "bigint"
    )
    assert mn3 is None


def test_boundary_row_fast_path_matches_merged_read(spark, tmp_path):
    """r18: the stats-pinned direct boundary read must return the same
    row as the general LWW-merged read — including when a later batch
    SUPERSEDES the max bin's partial window (same bin, newer writetime),
    and when the writetime bound excludes this batch's own run."""
    from cassandra_util_spark.core.table import TableMeta
    from cassandra_util_spark.sources.runs import RunStore
    from cassandra_util_spark.streaming.corpus import (
        _boundary_row,
        _prior_max_bin_runs,
    )

    store = RunStore(str(tmp_path / "bstore"), TableMeta(("bin",), (), "writetime"))
    schema = (
        "bin bigint, n_docs bigint, n_tokens bigint, "
        "token_ids array<bigint>, "
        "doc_spans array<struct<doc:bigint,off:bigint,len:bigint>>, "
        "writetime long"
    )
    # batch 0: full bin 0 + partial bin 1
    store.append_run(
        spark.createDataFrame(
            [
                (0, 1, 4, [1, 2, 3, 4], [(10, 0, 4)], 0),
                (1, 1, 2, [5, 6], [(11, 0, 2)], 0),
            ],
            schema,
        ),
        name="b0000000000",
    )
    # batch 1: bin 1 superseded (fuller), new partial bin 2
    store.append_run(
        spark.createDataFrame(
            [
                (1, 2, 4, [5, 6, 7, 8], [(11, 0, 2), (12, 2, 2)], 1),
                (2, 1, 1, [9], [(12, 0, 1)], 1),
            ],
            schema,
        ),
        name="b0000000001",
    )

    def merged_top(batch_id):
        prior = store.read_merged(
            spark, extra_bounds={"writetime": (None, batch_id - 1)}
        )
        top = prior.orderBy(F.col("bin").desc()).limit(1).collect()
        return top[0] if top else None

    for batch_id in (1, 2):
        key_lower = _prior_max_bin_runs(store, batch_id)[0]
        assert key_lower is not None  # stats usable — the fast path runs
        fast = _boundary_row(store, spark, key_lower, batch_id)
        slow = merged_top(batch_id)
        assert fast.asDict() == slow.asDict(), (batch_id, fast, slow)


def test_boundary_row_collect_is_bounded_and_falls_back_on_extra_rows(
    spark, tmp_path, count_jobs, monkeypatch
):
    """The direct boundary read collects at most one row more than the
    runs it scans.  With the driver read off (so the scan runs in Spark),
    on a healthy store it is one job, even when the runs it scans are
    several scan partitions, and it never touches the merged read; a run
    that holds its max-bin row twice breaks the one-row-per-bin-per-run
    contract, so the read falls back to the LWW merge, which returns the
    right boundary row."""
    from cassandra_util_spark.core.table import TableMeta
    from cassandra_util_spark.sources import runs as runs_module
    from cassandra_util_spark.sources.runs import RunStore
    from cassandra_util_spark.streaming.corpus import (
        _boundary_row,
        _prior_max_bin_runs,
    )

    store = RunStore(str(tmp_path / "bstore"), TableMeta(("bin",), (), "writetime"))
    schema = (
        "bin bigint, n_docs bigint, n_tokens bigint, token_ids array<bigint>, "
        "doc_spans array<struct<doc:bigint,off:bigint,len:bigint>>, "
        "writetime long"
    )
    # batch 0: full bin 0 + partial bin 1; batch 1 fills bin 1 exactly, so
    # both runs hold the max bin
    store.append_run(
        spark.createDataFrame(
            [(0, 1, 4, [1, 2, 3, 4], [(10, 0, 4)], 0),
             (1, 1, 2, [5, 6], [(11, 0, 2)], 0)],
            schema,
        ),
        name="b0000000000",
    )
    store.append_run(
        spark.createDataFrame(
            [(1, 2, 4, [5, 6, 7, 8], [(11, 0, 2), (12, 2, 2)], 1)], schema
        ),
        name="b0000000001",
    )
    merged_calls = []
    read_merged = store.read_merged

    def spy(*args, **kwargs):
        merged_calls.append(kwargs)
        return read_merged(*args, **kwargs)

    monkeypatch.setattr(store, "read_merged", spy)

    def merged_top(batch_id):
        prior = read_merged(spark, extra_bounds={"writetime": (None, batch_id - 1)})
        return prior.orderBy(F.col("bin").desc()).limit(1).collect()[0]

    key_lower = _prior_max_bin_runs(store, 2)[0]
    assert key_lower == 1 and store.prune_runs(1, None) == store.live_runs()
    # served on the driver: no job, the same row
    row, jobs = count_jobs("boundary-driver",
                           lambda: _boundary_row(store, spark, key_lower, 2))
    assert jobs == 0 and merged_calls == []
    assert row.asDict() == merged_top(2).asDict()
    monkeypatch.setattr(runs_module, "_DRIVER_READ_BYTES", -1)
    # an open cost at the split size puts each run's file in its own scan
    # partition, so a limit over the plain scan would take them in rounds
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, spark.conf.get("spark.sql.files.maxPartitionBytes"))
    try:
        row, jobs = count_jobs("boundary-healthy",
                               lambda: _boundary_row(store, spark, key_lower, 2))
    finally:
        spark.conf.set(key, old)
    assert jobs == 1 and merged_calls == []
    assert row.asDict() == merged_top(2).asDict()
    assert row["writetime"] == 1 and row["n_tokens"] == 4

    # a run holding its max-bin row twice: two rows from one run
    dup = (2, 1, 2, [10, 11], [(13, 0, 2)], 2)
    store.append_run(spark.createDataFrame([dup, dup], schema), name="b0000000002")
    key_lower = _prior_max_bin_runs(store, 3)[0]
    assert key_lower == 2
    row = _boundary_row(store, spark, key_lower, 3)
    assert len(merged_calls) == 1
    assert row.asDict() == merged_top(3).asDict()
    assert row["bin"] == 2 and list(row["token_ids"]) == [10, 11]


def _live_drain(spark, src, live, store, cp, shards, **kw):
    """Link ``shards`` of ``src`` into ``live`` and drain ``live`` into
    ``store`` from checkpoint ``cp``; returns the finished query."""
    for sh in shards:
        os.symlink(os.path.join(src, sh), os.path.join(live, sh))
    stream = (
        spark.readStream.schema("doc_id bigint, token_ids array<int>")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(os.path.join(live, "shard-*"))
    )
    q = stream_windows(stream, store, cp, CAPACITY, **kw)
    assert q.awaitTermination(300)
    return q


def _with_duplicate(spark):
    """DOCS plus a second, lesser delivery of doc 1 (the greater stream
    wins the intra-batch collapse)."""
    return spark.createDataFrame(
        DOCS + [(1, [4, 5])], "doc_id bigint, token_ids array<int>"
    )


def test_both_paths_append_the_same_runs(spark, tmp_path_factory, monkeypatch, runs_of):
    """The driver path and the Spark path append the same runs: the same
    names, the same recorded schema and the same rows, carry and
    intra-batch duplicates included."""
    from cassandra_util_spark.sources import runs as runs_module

    d = _with_duplicate(spark)
    paths, _ = _write_shards(tmp_path_factory, d, cuts=[2, 5])
    got = {}
    for path in ("driver", "spark"):
        if path == "spark":
            monkeypatch.setattr(runs_module, "_DRIVER_READ_BYTES", -1)
        store = _new_store(tmp_path_factory)
        _drain(spark, paths, store, str(tmp_path_factory.mktemp("win-cp-")))
        got[path] = runs_of(store)
    assert len(got["driver"]) == 3
    assert got["driver"] == got["spark"]
    assert _view(spark, store) == _want(
        spark, spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>"))


def test_driver_path_jobs_and_compiles(
    spark, tmp_path_factory, stream_jobs, count_compiles
):
    """On the driver path a trigger runs two Spark jobs, the batch's
    collect and the run's write: the boundary read of a small store is
    served on the driver.  A third trigger, after a restart of the same
    checkpoint, compiles no new class: no bound or batch id is inlined
    into generated code."""
    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    _, src = _write_shards(tmp_path_factory, d, cuts=[2, 5])
    live = os.path.join(src, "live")
    os.makedirs(live)
    store = _new_store(tmp_path_factory)
    cp = str(tmp_path_factory.mktemp("win-cp-"))
    q = _live_drain(spark, src, live, store, cp, ["shard-00", "shard-01"])
    assert stream_jobs(q) == 2 * 2
    q, compiles = count_compiles(
        lambda: _live_drain(spark, src, live, store, cp, ["shard-02"])
    )
    assert stream_jobs(q) == 2
    assert compiles == 0
    assert _view(spark, store) == _want(spark, d)


def test_fault_in_transform_restarts_clean(
    spark, tmp_path_factory, fail_once, drain_path
):
    """A fault inside batch 1's transform, on each path, stops the drain
    with batch 1 unapplied; a restart from the same checkpoint rebuilds
    the carry from the store, and the store's view and mark equal an
    uninterrupted run's."""
    from pyspark.errors import StreamingQueryException

    from cassandra_util_spark.operators import packing
    from cassandra_util_spark.streaming.ingest import applied_batch_hwm

    d = spark.createDataFrame(DOCS, "doc_id bigint, token_ids array<int>")
    paths, _ = _write_shards(tmp_path_factory, d, cuts=[2, 5])
    clean = _new_store(tmp_path_factory)
    _drain(spark, paths, clean, str(tmp_path_factory.mktemp("win-cp-")),
           txn_app_id="win-fault")
    transform = (
        "materialize_packed_windows_table" if drain_path == "driver"
        else "_windows_shard_step"
    )
    calls = fail_once(packing, transform, at_call=2)
    store = _new_store(tmp_path_factory)
    cp = str(tmp_path_factory.mktemp("win-cp-"))
    with pytest.raises(StreamingQueryException, match="injected fault"):
        _drain(spark, paths, store, cp, txn_app_id="win-fault")
        raise AssertionError("the injected fault did not stop the drain")
    assert len(calls) == 2 and applied_batch_hwm(store) == 0
    _drain(spark, paths, store, cp, txn_app_id="win-fault")
    assert applied_batch_hwm(store) == applied_batch_hwm(clean) == 2
    assert sorted(store.read_merged(spark).collect()) == sorted(
        clean.read_merged(spark).collect()
    )


def _spark_windows(df, **kw):
    """``materialize_packed_windows(..., with_spans=True)`` rows as dicts,
    in bin order."""
    return sorted(
        (r.asDict(recursive=True) for r in materialize_packed_windows(
            df, "doc_id", "token_ids", with_spans=True, **kw).collect()),
        key=lambda r: r["bin"],
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 9), st.lists(st.integers(-3, 3), max_size=9)),
        max_size=8,
    ),
    capacity=st.integers(1, 6),
    cut=st.integers(0, 9),
)
@example(docs=[(1, [1, 2, 3]), (2, [4]), (3, [5, 6, 7, 8])], capacity=4, cut=2)
def test_windows_table_equals_spark_windows(spark, docs, capacity, cut):
    """The driver path's transform equals ``materialize_packed_windows``
    on random batches: duplicate ids (the greatest stream wins), empty
    documents, exact tiling at ``capacity`` (the example), and a carry
    across two triggers, whose windows joined equal the one-shot
    windows of both batches."""
    import pyarrow as pa

    from cassandra_util_spark.operators.packing import (
        carry_from_window_row,
        materialize_packed_windows_table,
    )
    from cassandra_util_spark.streaming.corpus import _max_per_id

    schema = "doc_id bigint, token_ids array<int>"
    batch = spark.createDataFrame(docs, schema)
    deduped = batch.groupBy("doc_id").agg(F.max("token_ids").alias("token_ids"))
    table = _max_per_id(batch.toArrow(), "doc_id", "token_ids")
    one_shot = _spark_windows(deduped, capacity=capacity)
    assert materialize_packed_windows_table(
        table, "doc_id", "token_ids", capacity).to_pylist() == one_shot

    # two triggers: ids <= cut, then the carry plus ids > cut
    first = materialize_packed_windows_table(
        table.filter(pa.compute.less_equal(table["doc_id"], cut)),
        "doc_id", "token_ids", capacity,
    ).to_pylist()
    carry, base = [], 0
    if first:
        last = first[-1]
        base = last["bin"] if last["n_tokens"] < capacity else last["bin"] + 1
        if last["n_tokens"] < capacity:
            carry = carry_from_window_row(last)
    rest = table.filter(pa.compute.greater(table["doc_id"], cut))
    inp = pa.concat_tables([
        pa.table({
            "doc_id": pa.array([c[0] for c in carry], pa.int64()),
            "__ord": pa.array([c[1] - capacity for c in carry], pa.int64()),
            "token_ids": pa.array([c[2] for c in carry], pa.list_(pa.int32())),
        }),
        pa.table({"doc_id": rest["doc_id"], "__ord": rest["doc_id"],
                  "token_ids": rest["token_ids"]}),
    ])
    second = materialize_packed_windows_table(
        inp, "doc_id", "token_ids", capacity, order_col="__ord").to_pylist()
    assert second == _spark_windows(
        spark.createDataFrame(inp.to_pylist(), "doc_id bigint, __ord bigint, "
                              "token_ids array<int>"),
        capacity=capacity, order_col="__ord",
    )
    joined = {w["bin"]: w for w in first}
    joined.update({w["bin"] + base: dict(w, bin=w["bin"] + base) for w in second})
    strip = lambda w: (w["bin"], w["n_tokens"], w["token_ids"])  # noqa: E731
    assert [strip(w) for w in sorted(joined.values(), key=lambda w: w["bin"])] == [
        strip(w) for w in one_shot]


@pytest.mark.parametrize(
    "drain_test",
    [
        test_streamed_windows_equal_one_shot,
        test_restart_continues_from_store_carry,
        test_replay_is_idempotent,
        test_out_of_order_batch_raises,
        test_out_of_order_after_exact_tiling_raises,
        test_stream_windows_on_a_monotone_order_key,
        pytest.param(test_singleton_batches_equal_one_shot, marks=pytest.mark.slow),
        pytest.param(test_compaction_interleaves_with_carry, marks=pytest.mark.slow),
    ],
    ids=lambda t: t.__name__,
)
def test_drain_on_the_spark_path(spark, tmp_path_factory, monkeypatch, drain_test):
    """The drain tests above take the driver path (their batches are
    small); each runs here again with every batch on the Spark path."""
    from cassandra_util_spark.sources import runs as runs_module

    monkeypatch.setattr(runs_module, "_DRIVER_READ_BYTES", -1)
    drain_test(spark, tmp_path_factory)
