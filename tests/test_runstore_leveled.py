"""Leveled compaction over the LSM run store.

Cassandra's LeveledCompactionStrategy is the other strategy the reference's
DeletingCompactionStrategy can delegate to (the wrapper is
strategy-agnostic: DeletingCompactionStrategy.java:102-126 consumes
whatever scanner set the underlying strategy picked).  These tests pin the
Spark re-expression: L0 as the overlapping append tier, levels >= 1 as
range-split non-overlapping runs, bounded reads pruning to ~one run per
level, and the retention keep-expression applied during leveled merges.
"""

import os

import pytest
from pyspark.sql import functions as F

from cassandra_util_spark.core.table import TableMeta
from cassandra_util_spark.sources.runs import RunStore, leveled_plan, maintain


def test_leveled_plan_math():
    sizes = {"r1": 100, "r2": 100, "r3": 100, "r4": 100}
    levels = {r: 0 for r in sizes}
    # full L0 tier drains into L1
    job = leveled_plan(sizes, levels, min_threshold=4)
    assert job == (["r1", "r2", "r3", "r4"], 1)
    # below threshold, nothing to do
    assert leveled_plan({"r1": 100}, {"r1": 0}, min_threshold=4) is None
    # L0 merge pulls in existing L1 runs
    sizes2 = {**sizes, "r5": 500}
    job2 = leveled_plan(sizes2, {**levels, "r5": 1}, min_threshold=4)
    assert job2 == (["r1", "r2", "r3", "r4", "r5"], 1)
    # an over-full L1 (budget run_target * fanout) spills into L2
    job3 = leveled_plan(
        {"a": 900, "b": 900, "c": 50},
        {"a": 1, "b": 1, "c": 2},
        run_target_bytes=100,
        min_threshold=4,
        fanout=10,
    )
    assert job3 == (["a", "b", "c"], 2)
    # within budget: no job
    assert (
        leveled_plan(
            {"a": 400, "b": 400},
            {"a": 1, "b": 1},
            run_target_bytes=100,
            min_threshold=4,
            fanout=10,
        )
        is None
    )
    with pytest.raises(ValueError):
        leveled_plan(sizes, levels, min_threshold=1)
    with pytest.raises(ValueError):
        leveled_plan(sizes, levels, fanout=1)


@pytest.fixture
def seeded_store(spark, tmp_path):
    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "runs"), meta)
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("writetime", F.unix_micros(F.col("ts").cast("timestamp")))
        .select("user_id", "event_id", "event_type", "writetime")
    )
    store.append_run(ev)
    store.append_run(ev.filter(F.col("user_id") <= 50))
    store.append_run(ev.filter(F.col("user_id").between(25, 75)))
    store.append_run(ev.filter(F.col("user_id") > 60))
    return store, ev


def test_leveled_compaction_view_levels_and_disjointness(spark, seeded_store):
    store, ev = seeded_store
    before = {tuple(r) for r in store.read_merged(spark).collect()}
    # tiny run target so the merge range-splits into several L1 runs
    summary = maintain(
        store, spark, strategy="leveled", min_threshold=2,
        run_target_bytes=16 << 10, vacuum_min_age_s=0.0,
    )
    assert summary["rounds"] >= 1 and summary["merged_runs"]
    levels = store.live_levels()
    assert levels and all(lv == 1 for lv in levels.values())  # L0 drained
    assert len(levels) > 1  # actually split, not one megarun
    # L1 runs are key-disjoint per their stats (adjacent runs may touch at
    # a shared boundary value; ranges must never properly interleave)
    stats = store.run_stats()
    spans = sorted(
        (c["min"], c["max"]) for c in (stats[r]["columns"]["user_id"] for r in levels)
    )
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert lo1 <= hi1 and hi1 <= lo2
    # the read view is invariant under leveled compaction
    after = {tuple(r) for r in store.read_merged(spark).collect()}
    assert after == before
    # dead inputs were vacuumed
    assert summary["vacuumed"]


def test_bounded_read_prunes_and_matches(spark, seeded_store):
    store, ev = seeded_store
    maintain(
        store, spark, strategy="leveled", min_threshold=2,
        run_target_bytes=16 << 10, vacuum_min_age_s=0.0,
    )
    full = store.read_merged(spark)
    lo, hi = 10, 30
    want = {tuple(r) for r in full.filter(F.col("user_id").between(lo, hi)).collect()}
    got = {tuple(r) for r in store.read_merged(spark, key_lower=lo, key_upper=hi).collect()}
    assert got == want and got
    # pruning actually skipped runs
    assert len(store.prune_runs(lo, hi)) < len(store.live_runs())
    # a range beyond every key prunes everything but still returns a
    # schema-stable empty view
    empty = store.read_merged(spark, key_lower=10**9, key_upper=10**9 + 1)
    assert empty.count() == 0 and empty.columns == full.columns


def test_keep_expr_applies_during_leveled_merge(spark, seeded_store):
    store, ev = seeded_store
    maintain(
        store, spark, strategy="leveled", min_threshold=2,
        run_target_bytes=16 << 10,
        keep_expr=lambda df: df.filter(F.col("event_type") != "click"),
        vacuum_min_age_s=0.0,
    )
    got = store.read_merged(spark)
    assert got.filter(F.col("event_type") == "click").count() == 0
    # and ONLY that slice was dropped: keys are unique in the source, so
    # the survivors are exactly the non-click keys
    n_src = (
        ev.filter(F.col("event_type") != "click")
        .select("user_id", "event_id").distinct().count()
    )
    assert got.count() == n_src


def test_incremental_plan_picks_victim_and_overlaps_only():
    sizes = {"a": 300, "b": 300, "x": 100, "y": 100, "z": 100}
    levels = {"a": 1, "b": 1, "x": 2, "y": 2, "z": 2}
    ranges = {
        "a": (0, 49), "b": (50, 99),
        "x": (0, 30), "y": (31, 60), "z": (61, 99),
    }
    # L1 over budget (600 > 100*2): victim is 'a' (lowest min); it overlaps
    # x and y but NOT z
    job = leveled_plan(
        sizes, levels, run_target_bytes=100, min_threshold=4, fanout=2,
        run_ranges=ranges,
    )
    assert job == (["a", "x", "y"], 2)
    # a next-level run with no range info is conservatively included
    job2 = leveled_plan(
        sizes, levels, run_target_bytes=100, min_threshold=4, fanout=2,
        run_ranges={k: v for k, v in ranges.items() if k != "z"},
    )
    assert job2 == (["a", "x", "y", "z"], 2)
    # without ranges: full two-level rewrite
    job3 = leveled_plan(sizes, levels, run_target_bytes=100, min_threshold=4, fanout=2)
    assert job3 == (["a", "b", "x", "y", "z"], 2)


def test_incremental_compaction_leaves_siblings_untouched(spark, seeded_store):
    store, ev = seeded_store
    maintain(
        store, spark, strategy="leveled", min_threshold=2,
        run_target_bytes=6 << 10, vacuum_min_age_s=0.0,
    )
    l1 = [r for r, lv in store.live_levels().items() if lv == 1]
    assert len(l1) >= 3
    before_view = {tuple(r) for r in store.read_merged(spark).collect()}
    # shrink the budget so L1 is over-full: ONE victim must move to L2
    new = store.compact_leveled(spark, run_target_bytes=3 << 10, fanout=2)
    assert new
    levels = store.live_levels()
    survivors_l1 = [r for r in l1 if r in levels]
    assert len(survivors_l1) == len(l1) - 1  # exactly one victim consumed
    assert all(levels[r] == 2 for r in new)
    # L2 runs are key-disjoint and the view is invariant
    stats = store.run_stats()
    spans = sorted(
        (c["min"], c["max"]) for c in (stats[r]["columns"]["user_id"] for r in new)
    )
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2
    after_view = {tuple(r) for r in store.read_merged(spark).collect()}
    assert after_view == before_view


# property tests: the leveled planner's structural invariants and convergence
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def _ranged(names):
        # deterministic disjoint ranges per level ordering: name rank * 100
        out = {}
        for i, n in enumerate(sorted(names)):
            out[n] = (i * 100, i * 100 + 99)
        return out

    @given(
        sizes=st.dictionaries(
            st.text(alphabet="abcdefgh", min_size=1, max_size=4).map(lambda s: "r_" + s),
            st.integers(min_value=1, max_value=10**9),
            max_size=40,
        ),
        lv=st.integers(min_value=0, max_value=3),
        min_t=st.integers(min_value=2, max_value=6),
        fanout=st.integers(min_value=2, max_value=10),
        target=st.integers(min_value=1, max_value=10**6),
    )
    @settings(max_examples=150, deadline=None)
    def test_leveled_plan_invariants(sizes, lv, min_t, fanout, target):
        import random

        rng = random.Random(42)
        levels = {r: rng.randint(0, lv) for r in sizes}
        job = leveled_plan(
            sizes, levels, run_target_bytes=target,
            min_threshold=min_t, fanout=fanout,
        )
        if job is None:
            # no trigger: L0 below threshold AND every level within budget
            l0 = [r for r in sizes if levels[r] == 0]
            assert len(l0) < min_t
            for n in set(levels.values()):
                if n >= 1:
                    b = sum(sizes[r] for r in sizes if levels[r] == n)
                    assert b <= target * fanout**n
            return
        inputs, target_level = job
        assert len(inputs) == len(set(inputs)) and set(inputs) <= set(sizes)
        assert target_level >= 1
        in_levels = {levels[r] for r in inputs}
        # a job spans exactly the source level and (optionally) the target
        assert in_levels <= {target_level - 1, target_level}
        assert (target_level - 1) in in_levels

    @given(
        n_runs=st.integers(min_value=1, max_value=30),
        min_t=st.integers(min_value=2, max_value=6),
        fanout=st.integers(min_value=2, max_value=10),
    )
    @settings(max_examples=80, deadline=None)
    def test_leveled_simulation_converges(n_runs, min_t, fanout):
        # simulate: apply each planned job by replacing inputs with
        # ceil(bytes/target) runs of <= target bytes at the target level;
        # the loop must quiesce (bounded by a generous round cap)
        target = 100
        sizes = {f"r{i}": 100 for i in range(n_runs)}
        levels = {r: 0 for r in sizes}
        nxt = [n_runs]

        for _ in range(200):
            job = leveled_plan(
                sizes, levels, run_target_bytes=target,
                min_threshold=min_t, fanout=fanout,
                run_ranges=_ranged(sizes),
            )
            if job is None:
                break
            inputs, tl = job
            total = sum(sizes[r] for r in inputs)
            for r in inputs:
                del sizes[r], levels[r]
            k = max(1, -(-total // target))
            per = total // k
            for j in range(k):
                name = f"n{nxt[0]}"
                nxt[0] += 1
                sizes[name] = per if j else total - per * (k - 1)
                levels[name] = tl
        else:
            raise AssertionError("leveled compaction did not quiesce in 200 rounds")
        # converged state: L0 drained below threshold, all levels in budget
        l0 = [r for r in sizes if levels[r] == 0]
        assert len(l0) < min_t

except ImportError:  # pragma: no cover
    pass


def test_leveled_merge_crash_mid_stage_is_invisible_and_rerun_converges(
    spark, seeded_store, monkeypatch
):
    """VERDICT r4 task 6: kill a leveled merge at both crash windows —
    (a) mid-chunk-install (stage dir present, some chunks already moved to
    unpublished run dirs) and (b) just before the record swap — and prove
    readers still see the OLD consistent run set, the debris is
    vacuumable, and a clean re-run converges to the same content."""
    import shutil

    store, ev = seeded_store
    before_runs = list(store.live_runs())
    before = {tuple(r) for r in store.read_merged(spark).collect()}

    # -- window (a): crash during the chunk-install os.replace loop -------
    calls = {"n": 0}
    real_replace = os.replace

    def exploding_replace(src, dst):
        # let the staging write's own renames through; kill the SECOND
        # chunk install (first chunk already moved out of the stage dir)
        if "_stage." in src and not os.path.basename(dst).startswith("_"):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated crash: power loss mid-install")
        return real_replace(src, dst)

    import cassandra_util_spark.sources.runs as runs_mod

    monkeypatch.setattr(runs_mod.os, "replace", exploding_replace)
    with pytest.raises(RuntimeError, match="mid-install"):
        store.compact_leveled(spark, run_target_bytes=16 << 10, min_threshold=2)
    monkeypatch.setattr(runs_mod.os, "replace", real_replace)

    # record untouched: readers see the old, consistent run set
    assert store.live_runs() == before_runs
    assert {tuple(r) for r in store.read_merged(spark).collect()} == before
    # debris exists (stage dir and/or orphan run dir), but never as a live run
    debris = [d for d in os.listdir(store.root) if d.startswith("_stage.")]
    assert debris, "crash left no stage dir? simulation missed the window"
    orphans = [
        d for d in os.listdir(store.root)
        if d[:1] == "r" and d[1:].isdigit() and d not in set(store.live_runs())
    ]
    assert orphans, "the installed first chunk should be an unpublished orphan"

    # stale stage dirs are not runs: clean like an operator would
    for d in debris:
        shutil.rmtree(os.path.join(store.root, d))
    from cassandra_util_spark.sources.runs import vacuum_dead_runs

    removed = vacuum_dead_runs(store, min_age_s=0.0)
    assert set(orphans) <= set(removed)

    # -- window (b): crash just before the record swap --------------------
    real_publish = RunStore._publish

    def exploding_publish(self, **kw):
        raise RuntimeError("simulated crash: before record swap")

    monkeypatch.setattr(RunStore, "_publish", exploding_publish)
    with pytest.raises(RuntimeError, match="before record swap"):
        store.compact_leveled(spark, run_target_bytes=16 << 10, min_threshold=2)
    monkeypatch.setattr(RunStore, "_publish", real_publish)

    assert store.live_runs() == before_runs
    assert {tuple(r) for r in store.read_merged(spark).collect()} == before
    vacuum_dead_runs(store, min_age_s=0.0)

    # -- clean re-run converges -------------------------------------------
    new_runs = store.compact_leveled(spark, run_target_bytes=16 << 10, min_threshold=2)
    assert new_runs
    levels = store.live_levels()
    assert all(lv == 1 for lv in levels.values())
    assert {tuple(r) for r in store.read_merged(spark).collect()} == before


def test_leveled_outputs_keep_full_skip_index(spark, tmp_path):
    """Round 6: leveled chunk runs must carry per-column min/max stats
    (the skip index) just like appended runs — pruning on a non-key
    column has to keep working after a store levels."""
    from cassandra_util_spark.core.table import TableMeta
    from cassandra_util_spark.sources.runs import RunStore

    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "runs"), meta)
    for day in (1, 2):
        store.append_run(
            spark.range(400).selectExpr(
                "id as user_id",
                f"id + {day * 1000} as event_id",
                f"{day}L as day",
                "id as writetime",
            )
        )
    new = store.compact_leveled(spark, run_target_bytes=4 << 10, min_threshold=2)
    assert new
    stats = store.run_stats()
    for r in new:
        assert "columns" in stats[r] and "day" in stats[r]["columns"], stats[r]
    # the non-key-column read path still prunes/filters correctly
    got = store.read_merged(spark, extra_bounds={"day": (2, 2)})
    assert got.count() == 400
    assert {r["day"] for r in got.select("day").distinct().collect()} == {2}
