"""Multi-writer counter semantics on the run store (VERDICT r5 task 6).

The reference merges counter increments server-side per cell
(CQLBatch.scala:284-336), so concurrent counter batches cannot lose
increments; the engine's plain parquet counter path is read-modify-write
and documents a single-writer discipline.  These tests pin the loss-free
alternative: interleaved writers appending delta runs, totals by
merge-on-read, and compaction invariance — plus the manifest-lock fix that
makes two interleaved appends both survive the manifest.
"""

from pyspark.sql import functions as F

from cassandra_util_spark.core.table import TableMeta
from cassandra_util_spark.operators.counters import CounterStore
from cassandra_util_spark.sources.runs import RunStore


def _batch(spark, rows):
    return spark.createDataFrame(rows, "tenant string, hits bigint, bytes bigint")


def test_interleaved_counter_batches_lose_nothing(spark, tmp_path):
    """Two writers (separate store handles, as two processes would hold)
    interleave counter batches touching the same keys; the totals must be
    the exact sum of every increment — the scenario where the RMW path
    loses whichever writer read the older state."""
    root = str(tmp_path / "counters")
    w1 = CounterStore(root, ["tenant"], ["hits", "bytes"])
    w2 = CounterStore(root, ["tenant"], ["hits", "bytes"])

    w1.append_increments(_batch(spark, [("a", 1, 10), ("b", 2, 20)]))
    w2.append_increments(_batch(spark, [("a", 5, 50), ("c", 7, 70)]))
    w1.append_increments(_batch(spark, [("b", 3, 30), ("a", -1, -10)]))

    got = {r["tenant"]: (r["hits"], r["bytes"]) for r in w1.totals(spark).collect()}
    assert got == {"a": (5.0, 50.0), "b": (5.0, 50.0), "c": (7.0, 70.0)}
    assert len(w1.store.live_runs()) == 3  # every writer's run is live


def test_rmw_counter_path_contrast_loses_an_interleaved_writer(spark, tmp_path):
    """The documented failure the CounterStore exists to avoid: two counter
    batches that both read the same existing state overwrite each other on
    a bare parquet path."""
    from cassandra_util_spark.plans.batch import WriteBatch

    path = str(tmp_path / "rmw")
    meta = TableMeta(("tenant",))
    base = WriteBatch(meta, "counter", [{"tenant": "a", "hits": 1}])
    base.execute(spark, path)
    existing = spark.read.parquet(path)

    b1 = WriteBatch(meta, "counter", [{"tenant": "a", "hits": 10}])
    b2 = WriteBatch(meta, "counter", [{"tenant": "a", "hits": 100}])
    # both writers read the SAME pre-state (the interleave), then write
    pre = existing.collect()
    b1.execute(spark, path, existing=spark.createDataFrame(pre, existing.schema))
    b2.execute(spark, path, existing=spark.createDataFrame(pre, existing.schema))
    final = spark.read.parquet(path).collect()[0]["hits"]
    assert final == 101  # b1's +10 was lost — the RMW caveat, demonstrated


def test_compaction_preserves_totals_and_in_flight_appends(spark, tmp_path):
    root = str(tmp_path / "counters")
    cs = CounterStore(root, ["tenant"], ["hits"])
    for i in range(4):
        cs.append_increments(
            spark.createDataFrame([("a", i + 1), ("b", 10 * (i + 1))], "tenant string, hits bigint")
        )
    before = {r["tenant"]: r["hits"] for r in cs.totals(spark).collect()}
    assert before == {"a": 10.0, "b": 100.0}

    folded = cs.compact(spark)
    assert folded is not None and cs.store.live_runs() == [folded]
    after = {r["tenant"]: r["hits"] for r in cs.totals(spark).collect()}
    assert after == before  # addition is associative: fold is invisible

    # a delta appended AFTER a compaction keeps summing into the fold
    cs.append_increments(spark.createDataFrame([("a", 5)], "tenant string, hits bigint"))
    assert {r["tenant"]: r["hits"] for r in cs.totals(spark).collect()} == {
        "a": 15.0,
        "b": 100.0,
    }


def test_append_run_manifest_swap_rereads_live_set(spark, tmp_path):
    """The RunStore-level race the lock closes: writer A reads the live
    list, writer B publishes, then A publishes — A's swap must not drop
    B's run.  Simulated by publishing through two store handles whose
    appends interleave at the manifest."""
    meta = TableMeta(("k",))
    s1 = RunStore(str(tmp_path / "runs"), meta)
    s2 = RunStore(str(tmp_path / "runs"), meta)
    df = spark.range(5).select(F.col("id").alias("k"))
    s1.append_run(df, name="w1")
    s2.append_run(df, name="w2")
    s1.append_run(df, name="w3")
    assert sorted(s1.live_runs()) == ["w1", "w2", "w3"]


def test_counter_store_validation(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="at least one key"):
        CounterStore(str(tmp_path / "x"), [], ["hits"])
    with pytest.raises(ValueError, match="both key and counter"):
        CounterStore(str(tmp_path / "x"), ["k"], ["k"])
    cs = CounterStore(str(tmp_path / "c"), ["tenant"], ["hits"])
    with pytest.raises(ValueError, match="missing columns"):
        cs.append_increments(spark.range(3))
    with pytest.raises(ValueError, match="no runs"):
        cs.totals(spark)


def test_stream_counter_deltas_exactly_once_with_compaction(spark, tmp_path):
    """Streaming counter maintenance: per-batch delta appends with an
    interleaved fold must drain to EXACTLY the flat aggregation, the HWM
    must carry the stream identity, and a replay of a batch whose run the
    fold consumed must be skipped (an additive store cannot absorb a
    double-append)."""
    import os

    from cassandra_util_spark.streaming.ingest import (
        applied_batch_hwm,
        applied_txn_app_id,
        run_name_for_batch,
        stream_counter_deltas,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_id"
    )
    src = str(tmp_path / "src")
    for i in range(3):
        (
            ev.filter(F.col("event_id") % 3 == i)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("hits"))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    cs = CounterStore(str(tmp_path / "counters"), ["user_id"], ["hits"])
    stream = (
        spark.readStream.schema("user_id bigint, hits bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_counter_deltas(stream, cs, str(tmp_path / "cp"), compact_every=2)
    q.awaitTermination(120)

    got = {r["user_id"]: r["hits"] for r in cs.totals(spark).collect()}
    want = {
        r["user_id"]: float(r["n"])
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and got
    assert applied_batch_hwm(cs.store) == 2
    assert applied_txn_app_id(cs.store) is not None

    # batch 1's run was folded by the compaction after batch 1 (compact_every=2)
    assert run_name_for_batch(1) not in cs.store.live_runs()
    # the crash-replay guard: what process_batch checks before re-appending
    before = dict(want)
    if 1 > applied_batch_hwm(cs.store):  # replayed batch id 1
        raise AssertionError("guard failed: replay would double-count")
    assert {r["user_id"]: r["hits"] for r in cs.totals(spark).collect()} == before


def test_counter_compact_crash_leaves_totals_intact(spark, tmp_path):
    """Compaction crash drill: a fold that writes its output run but dies
    BEFORE the manifest swap leaves a dead directory and the old delta
    runs live — totals unchanged, and the next compact converges."""
    cs = CounterStore(str(tmp_path / "counters"), ["tenant"], ["hits"])
    for i in range(3):
        cs.append_increments(
            spark.createDataFrame([("a", i + 1)], "tenant string, hits bigint")
        )
    live_before = list(cs.store.live_runs())
    want = {r["tenant"]: r["hits"] for r in cs.totals(spark).collect()}

    # simulate the crash: perform compact's write phase only
    folded = cs._sum_runs(spark, live_before)
    import os

    from cassandra_util_spark.core.table import KeyedTable

    dead = os.path.join(cs.store.root, "c_deadfold")
    KeyedTable(folded, cs.store.meta).clustered().write.parquet(dead)
    # manifest untouched: the dead dir is invisible to every reader
    assert cs.store.live_runs() == live_before
    assert {r["tenant"]: r["hits"] for r in cs.totals(spark).collect()} == want

    # recovery: a later compact folds the SAME inputs; totals invariant
    assert cs.compact(spark) is not None
    assert {r["tenant"]: r["hits"] for r in cs.totals(spark).collect()} == want
    assert len(cs.store.live_runs()) == 1


def test_compaction_swap_preserves_concurrent_append(spark, tmp_path):
    """Maintenance passes publish under the same manifest lock as appends:
    a run published between a compaction's input-read and its swap must
    survive.  Simulated by appending through a second handle after the
    compaction inputs are fixed (the lock makes the swap re-read live)."""
    from cassandra_util_spark.core.table import TableMeta
    from cassandra_util_spark.sources.runs import RunStore

    meta = TableMeta(("k",), (), "wt")
    s_maint = RunStore(str(tmp_path / "runs"), meta)
    s_writer = RunStore(str(tmp_path / "runs"), meta)
    df = spark.range(50).selectExpr("id as k", "id as wt")
    for _ in range(4):
        s_maint.append_run(df)

    # inject the interleaved append INSIDE the compaction, after its plan
    # fixed the inputs but before its record swap: hook the stats entry
    # of the merged output (the last step before the locked publish)
    late_df = df.selectExpr("k + 100 as k", "wt")
    orig_stats = s_maint._stats
    fired = []

    def hook(run, zorder_by=None):
        entry = orig_stats(run, zorder_by)
        if not fired:
            fired.append(True)
            s_writer.append_run(late_df, name="late")
        return entry

    s_maint._stats = hook
    new = s_maint.compact(spark, min_threshold=4)
    # before the lock fix, the stale-list swap dropped "late" from the
    # live runs (its data directory orphaned) — now both survive
    assert new and fired and "late" in s_maint.live_runs()
    assert s_maint.read_merged(spark).count() == 100  # 50 keys + 50 shifted


def test_small_counter_totals_sum_in_one_partition(
    spark, tmp_path, count_jobs, exchanges, advisory_size, size_estimate
):
    """Deltas that fit one partition sum there: ``totals().collect()`` is
    one job with no exchange.  With the bound one byte below the deltas'
    estimate the sum shuffles on the key again, to the same totals."""
    cs = CounterStore(str(tmp_path / "counters"), ["tenant"], ["hits", "bytes"])
    cs.append_increments(_batch(spark, [("a", 1, 10), ("b", 2, 20)]))
    cs.append_increments(_batch(spark, [("a", 3, 30), ("c", 4, 40)]))
    want, jobs = count_jobs("totals-small", lambda: cs.totals(spark).collect())
    assert jobs == 1 and exchanges(cs.totals(spark)) == 0
    assert {r["tenant"]: (r["hits"], r["bytes"]) for r in want} == {
        "a": (4.0, 40.0), "b": (2.0, 20.0), "c": (4.0, 40.0),
    }
    (deltas,) = cs.store._scan(spark, cs.store.live_runs())
    advisory_size(size_estimate(deltas) - 1)
    got, jobs = count_jobs("totals-over", lambda: cs.totals(spark).collect())
    assert jobs > 1 and exchanges(cs.totals(spark)) == 1
    assert sorted(got) == sorted(want)
