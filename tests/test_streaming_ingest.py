"""Streaming ingestion into the run store — the memtable-flush analog.

Cassandra's write path flushes memtables as new SSTables and compacts in
the background; the reference filters rows during those compactions.  These
tests pin the Structured Streaming equivalent: each micro-batch appends one
L0 run, replayed batch ids are idempotent, interleaved maintenance keeps
the run count bounded with retention applied in-merge, and the final LWW
view equals the batch answer.
"""

import os

import pytest
from pyspark.sql import functions as F

from cassandra_util_spark.core.table import TableMeta
from cassandra_util_spark.sources.runs import RunStore
from cassandra_util_spark.streaming.ingest import (
    run_name_for_batch,
    stream_to_runstore,
)


def _events(spark, n=2000):
    return (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("writetime", F.unix_micros(F.col("ts").cast("timestamp")))
        .select("user_id", "event_id", "event_type", "writetime")
        .limit(n)
    )


def test_stream_ingest_matches_batch_view(spark, tmp_path):
    ev = _events(spark)
    src = str(tmp_path / "src")
    # three files -> three micro-batches (maxFilesPerTrigger=1)
    ev.filter(F.col("user_id") <= 30).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("user_id").between(20, 60)).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("user_id") > 50).coalesce(1).write.mode("append").parquet(src)

    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "runs"), meta)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = stream_to_runstore(stream, store, str(tmp_path / "cp"))
    q.awaitTermination(120)
    assert len(store.live_runs()) == 3
    assert all(r.startswith("b") for r in store.live_runs())
    got = {tuple(r) for r in store.read_merged(spark).collect()}
    want = {tuple(r) for r in ev.collect()}
    assert got == want


def test_replayed_batch_is_idempotent(spark, tmp_path):
    ev = _events(spark, 500)
    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "runs"), meta)
    name = run_name_for_batch(7)
    store.append_run(ev, name=name)
    before = store.read_merged(spark).count()
    # the at-least-once replay: same batch id arrives again
    store.append_run(ev, name=name)
    assert store.live_runs().count(name) == 1
    assert store.read_merged(spark).count() == before
    # a crashed first attempt (dir exists, not in manifest) is overwritten
    store2 = RunStore(str(tmp_path / "runs2"), meta)
    ev.limit(10).write.parquet(os.path.join(store2.root, name))
    store2.append_run(ev, name=name)
    assert store2.read_merged(spark).count() == ev.count()


def test_append_with_mark_commits_run_and_mark_together(spark, tmp_path):
    """``RunStore._append`` publishes the run and the stream mark in one
    record swap.  Replaying a batch whose run is already live, with its
    mark behind, still publishes the mark."""
    from cassandra_util_spark.streaming.ingest import applied_batch_hwm

    ev = _events(spark, 200)
    store = RunStore(str(tmp_path / "runs"), TableMeta(("user_id",), ("event_id",), "writetime"))
    calls = []
    real = RunStore._publish

    def publish(self, **kw):
        calls.append(kw)
        return real(self, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(RunStore, "_publish", publish)
        store._append(ev, run_name_for_batch(0), "s:0")
    assert [(c["add"], c["mark"]) for c in calls] == [([run_name_for_batch(0)], "s:0")]
    assert store.live_runs() == [run_name_for_batch(0)]
    assert applied_batch_hwm(store) == 0

    store.append_run(ev, name=run_name_for_batch(1))  # run live, mark at 0
    assert applied_batch_hwm(store) == 0
    store._append(ev, run_name_for_batch(1), "s:1")
    assert store.live_runs() == [run_name_for_batch(0), run_name_for_batch(1)]
    assert applied_batch_hwm(store) == 1


def test_interleaved_maintenance_compacts_and_retains(spark, tmp_path):
    ev = _events(spark)
    src = str(tmp_path / "src")
    for lo, hi in [(0, 25), (26, 50), (51, 75), (76, 10**9)]:
        ev.filter(F.col("user_id").between(lo, hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "runs"), meta)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = stream_to_runstore(
        stream, store, str(tmp_path / "cp"),
        maintain_every=4, strategy="leveled", min_threshold=2,
        run_target_bytes=16 << 10,
        keep_expr=lambda df: df.filter(F.col("event_type") != "click"),
    )
    q.awaitTermination(180)
    levels = store.live_levels()
    assert levels and all(lv >= 1 for lv in levels.values())  # L0 drained
    view = store.read_merged(spark)
    assert view.filter(F.col("event_type") == "click").count() == 0
    want = ev.filter(F.col("event_type") != "click")
    assert view.count() == want.count()


def test_replay_after_compaction_does_not_resurrect(spark, tmp_path):
    """ADVICE r4: once maintenance compacts run b<id> away, its name leaves
    the live manifest — a replayed micro-batch with the same id used to
    re-append it, resurrecting keep_expr-convicted rows until the next
    compaction.  The store's mark (last applied batch id) now skips the
    replay regardless of run membership."""
    from cassandra_util_spark.sources.runs import maintain
    from cassandra_util_spark.streaming.ingest import (
        applied_batch_hwm,
        stream_to_runstore,
    )

    ev = _events(spark, 1000)
    src = str(tmp_path / "src")
    halves = [ev.filter(F.col("user_id") % 2 == 0),
              ev.filter(F.col("user_id") % 2 == 1)]
    for h in halves:
        h.coalesce(1).write.mode("append").parquet(src)

    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "runs"), meta)
    keep = lambda df: df.filter(F.col("event_type") != "click")  # noqa: E731
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = stream_to_runstore(
        stream, store, str(tmp_path / "cp"),
        maintain_every=2, strategy="stcs", min_threshold=2, keep_expr=keep,
    )
    q.awaitTermination(120)
    assert applied_batch_hwm(store) == 1
    # maintenance folded the b* runs into a compacted run: convicted rows gone
    live = store.live_runs()
    assert run_name_for_batch(1) not in live, live
    assert store.read_merged(spark).filter(F.col("event_type") == "click").count() == 0

    # the crash-replay: foreachBatch re-delivers the LAST batch with the
    # same id.  Simulate it by calling the store path the way a restarted
    # query would — before the fix this re-appended b0000000001 and
    # resurrected the convicted click rows.
    replay_id = 1
    if replay_id > applied_batch_hwm(store):  # what process_batch now checks
        store.append_run(halves[1], name=run_name_for_batch(replay_id))
    assert run_name_for_batch(replay_id) not in store.live_runs()
    assert store.read_merged(spark).filter(F.col("event_type") == "click").count() == 0


def _file_stream(spark, schema, src):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )


def _publish_failing_once(monkeypatch, when):
    """Make the first ``RunStore._publish`` whose keyword arguments satisfy
    ``when`` raise, as a crash at that commit would."""
    real = RunStore._publish
    fired = []

    def publish(self, **kw):
        if not fired and when(kw):
            fired.append(kw)
            raise RuntimeError("injected fault in _publish")
        return real(self, **kw)

    monkeypatch.setattr(RunStore, "_publish", publish)
    return fired


def _crash(query):
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="injected fault"):
        query.awaitTermination(120)
        raise AssertionError("the injected fault did not stop the drain")


@pytest.mark.parametrize("drain", ["runstore", "counter_deltas"])
def test_fault_in_mark_publish_restarts_clean(spark, tmp_path, monkeypatch, drain):
    """Fault injection at the publish that carries batch 1's mark.  Both
    drains commit run and mark in that one publish, so neither lands:
    batch 1's run is not live and the mark still names batch 0.  A
    restart from the same checkpoint replays batch 1 as a fresh append
    and publishes its mark, so the store's view and mark equal an
    uninterrupted run's.  Counters would double-count a batch
    applied twice, and a counter drain also folds its deltas every 2
    batches."""
    from cassandra_util_spark.operators.counters import CounterStore
    from cassandra_util_spark.streaming.ingest import (
        applied_batch_hwm,
        applied_txn_app_id,
        resolve_txn_app_id,
        stream_counter_deltas,
    )

    ev = _events(spark, 600)
    src = str(tmp_path / "src")
    for i in range(3):  # users recur across batches: their counters add up
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)

    def start(root, cp):
        stream = _file_stream(spark, ev.schema, src)
        if drain == "runstore":
            store = RunStore(root, TableMeta(("user_id",), ("event_id",), "writetime"))
            q = stream_to_runstore(stream, store, cp)
            return store, lambda: store.read_merged(spark), q
        cs = CounterStore(root, ["user_id"], ["hits"])
        q = stream_counter_deltas(
            stream, cs, cp, compact_every=2,
            transform=lambda df, _: df.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("hits")),
        )
        return cs.store, lambda: cs.totals(spark), q

    clean, clean_view, q = start(str(tmp_path / "clean"), str(tmp_path / "cp-clean"))
    q.awaitTermination(120)

    _publish_failing_once(monkeypatch, lambda kw: (kw.get("mark") or "").endswith(":1"))
    root, cp = str(tmp_path / "crash"), str(tmp_path / "cp")
    store, _, q = start(root, cp)
    _crash(q)
    assert run_name_for_batch(1) not in store.live_runs()
    assert applied_batch_hwm(store) == 0

    store, view, q = start(root, cp)
    q.awaitTermination(120)
    assert sorted(view().collect()) == sorted(clean_view().collect())
    assert applied_batch_hwm(store) == applied_batch_hwm(clean) == 2
    assert applied_txn_app_id(store) == resolve_txn_app_id(cp, "")


def test_fault_in_compaction_publish_restarts_clean(spark, tmp_path, monkeypatch):
    """Fault injection at the publish inside ``_compact_bucket`` during a
    ``maintain_every=2`` drain with a retention ``keep_expr``: batch 1's
    mark is published, its maintenance writes the merged run and dies
    before the record swap.  The merged directory is an orphan, the
    inputs stay live, and the restart skips the replayed batch 1 by its
    mark.  The store's view and mark then equal an uninterrupted run's,
    and the drain's own vacuum removes the orphan."""
    from cassandra_util_spark.streaming.ingest import applied_batch_hwm

    ev = _events(spark, 1200)
    src = str(tmp_path / "src")
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode("append").parquet(src)
    keep = lambda df: df.filter(F.col("event_type") != "click")  # noqa: E731
    meta = TableMeta(("user_id",), ("event_id",), "writetime")

    def start(store, cp):
        return stream_to_runstore(
            _file_stream(spark, ev.schema, src), store, cp,
            maintain_every=2, strategy="stcs", min_threshold=2, keep_expr=keep,
        )

    clean = RunStore(str(tmp_path / "clean"), meta)
    start(clean, str(tmp_path / "cp-clean")).awaitTermination(120)

    fired = _publish_failing_once(
        monkeypatch, lambda kw: bool(kw.get("add")) and bool(kw.get("drop"))
    )
    store = RunStore(str(tmp_path / "crash"), meta)
    cp = str(tmp_path / "cp")
    _crash(start(store, cp))
    assert sorted(fired[0]["drop"]) == [run_name_for_batch(0), run_name_for_batch(1)]
    orphans = [
        d for d in os.listdir(store.root)
        if d.startswith("r") and d[1:].isdigit()
    ]
    assert orphans and not set(orphans) & set(store.live_runs())
    assert store.live_runs() == [run_name_for_batch(0), run_name_for_batch(1)]
    assert applied_batch_hwm(store) == 1

    start(store, cp).awaitTermination(120)
    view = sorted(store.read_merged(spark).collect())
    assert view == sorted(clean.read_merged(spark).collect())
    assert view == sorted(keep(ev).collect())
    assert applied_batch_hwm(store) == applied_batch_hwm(clean) == 3
    assert not any(os.path.exists(os.path.join(store.root, d)) for d in orphans)


def test_drain_with_maintenance_writes_only_the_record(spark, tmp_path):
    """A drain with interleaved maintenance keeps all store metadata in
    the commit record: no per-run stats file and no separate mark file is
    written anywhere under the store."""
    import json

    ev = _events(spark, 400)
    src = str(tmp_path / "src")
    for i in range(2):
        ev.filter(F.col("event_id") % 2 == i).coalesce(1).write.mode("append").parquet(src)
    store = RunStore(
        str(tmp_path / "runs"), TableMeta(("user_id",), ("event_id",), "writetime")
    )
    stream_to_runstore(
        _file_stream(spark, ev.schema, src), store, str(tmp_path / "cp"),
        maintain_every=2, min_threshold=2,
        keep_expr=lambda df: df.filter(F.col("event_type") != "click"),
    ).awaitTermination(120)
    names = {f for _, _, files in os.walk(store.root) for f in files}
    assert not names & {"_STATS.json", "_INGEST_HWM"}, names
    with open(os.path.join(store.root, "_RUNS")) as f:
        record = json.load(f)
    assert [e["name"] for e in record["runs"]] == store.live_runs()
    assert len(store.live_runs()) == 1  # the two batch runs were compacted
    assert record["mark"].endswith(":1")


def test_garbage_mark_fails_loudly(tmp_path):
    """An unparsable mark must raise, never read as 'never applied' (a
    replay would then be re-applied and double-count additive state)."""
    from cassandra_util_spark.streaming.ingest import _applied, applied_batch_hwm

    store = RunStore(str(tmp_path / "runs"), TableMeta(("k",), (), "wt"))
    store._publish(mark="garbage")
    with pytest.raises(RuntimeError, match="foreign mark"):
        _applied(store.root, store._record()["mark"], "me")
    with pytest.raises(RuntimeError, match="foreign mark"):
        applied_batch_hwm(store)


def test_streaming_count_min_equals_batch_sketch(spark, tmp_path):
    """The persisted CM sketch after draining N micro-batches must be
    BIT-IDENTICAL to count_min_build over their union (counter addition is
    CM's composition law), and the applied-batch tag must block replay
    double-counting — the failure mode additive sketches cannot absorb."""
    from cassandra_util_spark.operators.sketches import count_min_build
    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.sketches import stream_count_min_to_store

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_id"
    )
    src = str(tmp_path / "src")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = SnapshotStore(str(tmp_path / "cm"))
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_count_min_to_store(
        stream, store, str(tmp_path / "cp"), "user_id", depth=4, width=64
    )
    q.awaitTermination(120)

    got = {tuple(r) for r in store.read(spark).collect()}
    want = {
        tuple(r)
        for r in count_min_build(ev, "user_id", depth=4, width=64).collect()
    }
    assert got == want and got
    # tag = txn identity (the checkpoint's query id) + last applied batch id
    from cassandra_util_spark.streaming.ingest import resolve_txn_app_id

    app = resolve_txn_app_id(str(tmp_path / "cp"), "cm-sketch-ingest")
    assert store.current_tag() == f"{app}:2"  # three batches applied: 0, 1, 2

    # replayed batch id must be a no-op (no new version, no inflation)
    versions_before = store.versions()
    from cassandra_util_spark.streaming.ingest import _applied

    assert _applied(store.root, store.current_tag(), app) == 2
    # what process_batch does on replay: batch_id 2 <= last applied -> skip
    assert 2 <= _applied(store.root, store.current_tag(), app)
    assert store.versions() == versions_before
    # per-batch vacuum keeps the version COUNT bounded for long streams
    assert len(versions_before) <= 2, versions_before


def test_fresh_checkpoint_against_written_store_fails_loudly(spark, tmp_path):
    """ADVICE r5 (medium): the replay guard is keyed on (txn identity,
    batch id), not batch id alone.  Restarting with a FRESH checkpoint
    resets batch ids to 0; a bare `batch_id <= hwm` guard would read every
    batch as already-applied and silently no-op — data loss in the run
    store, a frozen sketch in the sketch store.  Both must now RAISE."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.ingest import applied_txn_app_id
    from cassandra_util_spark.streaming.sketches import stream_count_min_to_store

    ev = _events(spark, 400)
    src = str(tmp_path / "src")
    ev.coalesce(1).write.mode("append").parquet(src)

    def fresh_stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # -- run store ----------------------------------------------------------
    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "runs"), meta)
    q = stream_to_runstore(fresh_stream(), store, str(tmp_path / "cp1"))
    q.awaitTermination(120)
    n_runs = len(store.live_runs())
    assert n_runs >= 1 and applied_txn_app_id(store) is not None

    q2 = stream_to_runstore(fresh_stream(), store, str(tmp_path / "cp2"))
    with pytest.raises(StreamingQueryException, match="refusing to compare"):
        q2.awaitTermination(120)
        raise AssertionError("fresh-checkpoint restart silently succeeded")
    assert len(store.live_runs()) == n_runs  # nothing appended, nothing lost

    # explicit txn_app_id opts back into the Delta-style idempotent skip
    q3 = stream_to_runstore(
        fresh_stream(), store, str(tmp_path / "cp3"),
        txn_app_id=applied_txn_app_id(store),
    )
    q3.awaitTermination(120)
    assert len(store.live_runs()) == n_runs  # batch 0 <= hwm: skipped, no dup

    # -- sketch store (CM is additive: a silent skip freezes it) ------------
    cm = SnapshotStore(str(tmp_path / "cm"))
    q4 = stream_count_min_to_store(
        fresh_stream(), cm, str(tmp_path / "cp4"), "user_id", depth=2, width=16
    )
    q4.awaitTermination(120)
    tag_before = cm.current_tag()
    q5 = stream_count_min_to_store(
        fresh_stream(), cm, str(tmp_path / "cp5"), "user_id", depth=2, width=16
    )
    with pytest.raises(StreamingQueryException, match="refusing to compare"):
        q5.awaitTermination(120)
        raise AssertionError("fresh-checkpoint sketch restart silently succeeded")
    assert cm.current_tag() == tag_before  # no double-count commit happened


def _counter_deltas_case(spark, tmp_path):
    from cassandra_util_spark.operators.counters import CounterStore
    from cassandra_util_spark.streaming.ingest import stream_counter_deltas

    rows = _events(spark, 400).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("hits")
    )
    cs = CounterStore(str(tmp_path / "counters"), ["user_id"], ["hits"])
    return rows, lambda s, cp: stream_counter_deltas(s, cs, cp), [cs.store]


def _corpus_ingest_case(spark, tmp_path):
    from cassandra_util_spark.streaming.corpus import stream_corpus_ingest

    rows = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river"),
         (2, "an entirely different document about compaction in storage")],
        "doc_id bigint, text string",
    )
    corpus = RunStore(
        str(tmp_path / "corpus"), TableMeta(("doc_id",), (), "writetime")
    )
    index = RunStore(str(tmp_path / "index"), TableMeta(("id",), (), "writetime"))
    return (
        rows,
        lambda s, cp: stream_corpus_ingest(s, corpus, index, cp, min_tokens=5),
        [corpus, index],
    )


def _continuous_rollup_case(spark, tmp_path):
    from datetime import datetime

    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.events import continuous_rollup

    rows = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 5), "click", 1.0),
         (datetime(2024, 1, 1, 1, 5), "view", 2.5),
         (datetime(2024, 1, 1, 1, 20), "click", 0.5)],
        "ts timestamp, event_type string, value double",
    )
    store = SnapshotStore(str(tmp_path / "rollup"))
    return rows, lambda s, cp: continuous_rollup(s, store, cp), [store]


def _changelog_case(spark, tmp_path):
    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.events import streaming_apply_changelog

    schema = "k string, v string, writetime bigint, op string"
    rows = spark.createDataFrame([("a", "v1", 20, "U"), ("b", None, 30, "D")], schema)
    base = spark.createDataFrame(
        [("a", "v0", 10), ("b", "v0", 10)], "k string, v string, writetime bigint"
    )
    store = SnapshotStore(str(tmp_path / "cdc"))
    return (
        rows,
        lambda s, cp: streaming_apply_changelog(
            s, base, store, cp, primary_key=("k",)
        ),
        [store],
    )


def _store_state(store):
    """Everything a drain writes: runs + the record's mark, or versions +
    the pointer tag; each mark with the batch id it reads as."""
    from cassandra_util_spark.streaming.ingest import _applied

    if isinstance(store, RunStore):
        state, mark = store.live_runs(), store._record()["mark"]
    else:
        state, mark = store.versions(), store.current_tag()
    return state, mark, _applied(store.root, mark, (mark or "").rpartition(":")[0])


@pytest.mark.parametrize(
    "case",
    [_counter_deltas_case, _corpus_ingest_case, _continuous_rollup_case, _changelog_case],
    ids=["counter_deltas", "corpus_ingest", "continuous_rollup", "changelog"],
)
def test_fresh_checkpoint_fails_loudly_on_every_drain(spark, tmp_path, case):
    """The refusal above, on the other drains: a second stream (fresh
    checkpoint) against a store the first one wrote raises and writes
    nothing.  ``continuous_rollup`` and ``streaming_apply_changelog`` used
    to keep a bare batch id in their snapshot tag, so the second stream's
    batch 0 read as applied and its rows were silently dropped."""
    from pyspark.errors import StreamingQueryException

    rows, start, stores = case(spark, tmp_path)
    src = str(tmp_path / "src")
    rows.coalesce(1).write.parquet(src)

    def run(cp):
        stream = spark.readStream.schema(rows.schema).parquet(src)
        return start(stream, str(tmp_path / cp))

    run("cp1").awaitTermination(120)
    before = [_store_state(s) for s in stores]
    assert before[0][1] not in (None, (None, -1))  # the first stream's mark
    q = run("cp2")
    with pytest.raises(StreamingQueryException, match="refusing to compare"):
        q.awaitTermination(120)
        raise AssertionError("fresh-checkpoint restart silently succeeded")
    assert [_store_state(s) for s in stores] == before


def test_foreign_or_legacy_sketch_tags(spark, tmp_path):
    """A foreign (unparsable) snapshot tag used to degrade to 'never
    applied' — a replay would then re-merge and double-count CM counters.
    It must raise.  A legacy bare-integer tag still parses (adopted into
    the new format on the next commit)."""
    import pytest

    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.ingest import _applied

    def last_applied(store, app_id):
        return _applied(store.root, store.current_tag(), app_id)

    df = spark.range(3)
    foreign = SnapshotStore(str(tmp_path / "foreign"))
    foreign.commit(df, tag="some-other-module-tag")
    with pytest.raises(RuntimeError, match="foreign mark"):
        last_applied(foreign, "me")

    legacy = SnapshotStore(str(tmp_path / "legacy"))
    legacy.commit(df, tag="5")
    assert last_applied(legacy, "me") == 5

    other = SnapshotStore(str(tmp_path / "other"))
    other.commit(df, tag="someone-else:3")
    with pytest.raises(RuntimeError, match="refusing to compare"):
        last_applied(other, "me")
    assert last_applied(other, "someone-else") == 3


def test_heavy_hitters_from_store_equals_rebuild(spark, tmp_path):
    """VERDICT r5 task 7: heavy hitters gated by the STREAM-MAINTAINED CM
    sketch must equal the gate-from-rebuild answer over the drained stream
    — the sketch build pass (a second full input scan) disappears for
    consumers.  A parameter-shape mismatch must raise, not mis-hash."""
    import pytest

    from cassandra_util_spark.operators.sketches import (
        heavy_hitters_exact,
        heavy_hitters_from_store,
    )
    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.sketches import stream_count_min_to_store

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_id"
    )
    src = str(tmp_path / "src")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    store = SnapshotStore(str(tmp_path / "cm"))
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_count_min_to_store(
        stream, store, str(tmp_path / "cp"), "user_id", depth=4, width=64
    )
    q.awaitTermination(120)

    phi = 0.004
    got = {
        tuple(r)
        for r in heavy_hitters_from_store(
            store, ev, "user_id", phi, depth=4, width=64
        ).collect()
    }
    want = {
        tuple(r)
        for r in heavy_hitters_exact(ev, "user_id", phi, depth=4, width=64).collect()
    }
    assert got == want and got

    with pytest.raises(ValueError, match="different parameters"):
        heavy_hitters_from_store(store, ev, "user_id", phi, depth=4, width=32)
