"""LSM run store + size-tiered compaction semantics.

The reference's retention engine rides inside a real compaction strategy
(DeletingCompactionStrategy delegating to size-tiered,
DeletingCompactionStrategy.java:102-126); these tests pin the modeled
equivalents: lazy LWW reads over overlapping runs, STCS bucketing math,
read-view invariance under compaction, and the retention hook dropping rows
during the merge exactly like a convictor.
"""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from cassandra_util_spark.core.table import TableMeta
from cassandra_util_spark.sources.runs import RunStore, size_tiered_plan


def test_stcs_bucketing_math():
    # four ~100-byte runs + two 10KB runs: only the small tier qualifies
    sizes = {"r1": 100, "r2": 110, "r3": 95, "r4": 105, "r5": 10_000, "r6": 10_500}
    plan = size_tiered_plan(sizes, min_threshold=4)
    assert len(plan) == 1 and sorted(plan[0]) == ["r1", "r2", "r3", "r4"]
    # raising the threshold disqualifies the bucket
    assert size_tiered_plan(sizes, min_threshold=5) == []
    # max_threshold caps a giant bucket
    many = {f"r{i}": 100 + i for i in range(40)}
    capped = size_tiered_plan(many, min_threshold=4, max_threshold=8)
    assert capped and all(len(b) <= 8 for b in capped)
    with pytest.raises(ValueError):
        size_tiered_plan(sizes, min_threshold=1)


@pytest.fixture
def seeded_store(spark, tmp_path):
    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "runs"), meta)
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("writetime", F.unix_micros(F.col("ts").cast("timestamp")))
        .select("user_id", "event_id", "event_type", "writetime")
    )
    # four overlapping runs: full + three re-delivered slices (older data
    # re-appearing is exactly the overlap compaction must resolve)
    store.append_run(ev)
    store.append_run(ev.filter(F.col("user_id") <= 50))
    store.append_run(ev.filter(F.col("user_id").between(25, 75)))
    store.append_run(ev.filter(F.col("user_id") > 60))
    return store, ev


def test_lazy_read_is_lww_view(spark, seeded_store):
    store, ev = seeded_store
    got = store.read_merged(spark).count()
    assert got == ev.count()  # unique (user_id, event_id) keys: no inflation


def test_compaction_preserves_read_view(spark, seeded_store):
    store, ev = seeded_store
    before = {tuple(r) for r in store.read_merged(spark).collect()}
    new = store.compact(spark, min_threshold=2)
    assert new, "expected at least one merge job"
    assert len(store.live_runs()) < 4
    after = {tuple(r) for r in store.read_merged(spark).collect()}
    assert after == before  # the compaction invariant


def test_compaction_retention_hook_drops_rows(spark, seeded_store):
    """keep_expr during compact = the deleting-compaction integration:
    convicted rows vanish from the merged run."""
    store, ev = seeded_store
    # merge everything in one job, dropping user_id <= 50 during the merge
    new = store.compact(
        spark,
        min_threshold=2,
        max_threshold=32,
        keep_expr=lambda df: df.filter(F.col("user_id") > 50),
    )
    assert new
    view = store.read_merged(spark)
    # rows from un-compacted runs may still carry user_id <= 50; compact
    # until one run remains for the full sweep
    while len(store.live_runs()) > 1:
        store.compact(
            spark, min_threshold=2,
            keep_expr=lambda df: df.filter(F.col("user_id") > 50),
        )
    final = store.read_merged(spark)
    assert final.filter(F.col("user_id") <= 50).count() == 0
    want = ev.filter(F.col("user_id") > 50).count()
    assert final.count() == want


def test_manifest_swap_is_atomic_visibility(spark, tmp_path):
    meta = TableMeta(("k",), (), "writetime")
    store = RunStore(str(tmp_path / "rs"), meta)
    df = spark.createDataFrame([("a", 1)], "k string, writetime bigint")
    store.append_run(df)
    assert store.live_runs() == ["r00001"]
    # a dead directory (failed job) never appears in the manifest
    import os

    os.makedirs(os.path.join(store.root, "r00099"))
    assert store.live_runs() == ["r00001"]


def test_vacuum_dead_runs(spark, tmp_path):
    import os
    import time

    from cassandra_util_spark.sources.runs import vacuum_dead_runs

    meta = TableMeta(("k",), (), "writetime")
    store = RunStore(str(tmp_path / "vac"), meta)
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, writetime bigint")
    store.append_run(df)
    store.append_run(df)
    store.compact(spark, min_threshold=2)  # r00001+r00002 -> r00003 (dead inputs)
    assert store.live_runs() == ["r00003"]
    # young debris is protected (in-flight append guard)
    assert vacuum_dead_runs(store, min_age_s=3600) == []
    removed = vacuum_dead_runs(store, min_age_s=0.0)
    assert removed == ["r00001", "r00002"]
    assert sorted(d for d in os.listdir(store.root) if d.startswith("r")) == ["r00003"]
    # the view still reads fine
    assert store.read_merged(spark).count() == 2


# ---------------------------------------------------------------------------
# Persisted IVF index (partition-pruned ANN)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def ivf_index_dir(spark, tmp_path_factory):
    from cassandra_util_spark.sources.ivf_index import write_ivf_index

    path = str(tmp_path_factory.mktemp("ivf") / "index")
    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    write_ivf_index(corpus, path, num_centroids=16, refine_iters=1)
    return path


def test_persisted_probe_matches_inmemory_ivf(spark, ivf_index_dir):
    """The persisted index returns the same neighbors as the in-memory
    ivf_topk with identical parameters (same seeds, same refinement)."""
    from cassandra_util_spark.operators.similarity import ivf_topk
    from cassandra_util_spark.sources.ivf_index import probe_ivf_index

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") < 3)
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk(
            corpus, queries, k=5, num_centroids=16, nprobe=4, refine_iters=1
        ).collect()
    }
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in probe_ivf_index(
            spark, ivf_index_dir, queries, k=5, nprobe=4
        ).collect()
    }
    assert got == want and got


def test_probe_plan_prunes_partitions(spark, ivf_index_dir):
    """The probe's file index must hold EXACTLY the probed cells'
    directories — pruning happens at (and now BEFORE) file listing, the
    whole point of the persisted layout.  r8 pruned via a cell-IN
    PartitionFilter after a full partition-tree discovery; the probe now
    reads the probed directories directly (_read_probed_cells), so the
    scan's own root paths enumerate the nprobe cells and unprobed cells
    are never even listed."""
    import re

    from cassandra_util_spark.sources.ivf_index import probe_ivf_index

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") == 0)
    df = probe_ivf_index(spark, ivf_index_dir, queries, k=5, nprobe=2)
    # nprobe=2 of 16 cells: the scanned files must span exactly 2 cell dirs
    cell_files = [f for f in df.inputFiles() if "/cells/" in f]
    cells = {re.search(r"cell=(\d+)", f).group(1) for f in cell_files}
    assert len(cells) == 2, sorted(cell_files)


def test_probe_filtered_candidates(spark, ivf_index_dir):
    """Filtered search through the plain IVF index: every neighbor
    satisfies the predicate and each query keeps its full k under a
    selective candidate set (the predicate lands before scoring)."""
    from cassandra_util_spark.sources.ivf_index import probe_ivf_index

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") < 2)
    allowed = corpus.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    got = probe_ivf_index(
        spark, ivf_index_dir, queries, k=5, nprobe=16, candidates=allowed
    ).collect()
    assert len(got) == 10  # 2 queries x full k at 20% selectivity
    assert all(r["neighbor_id"] % 5 == 0 for r in got)


# property tests: the STCS planner's structural invariants
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        sizes=st.dictionaries(
            st.text(alphabet="abcdefgh", min_size=1, max_size=4).map(lambda s: "r_" + s),
            st.integers(min_value=1, max_value=10**12),
            max_size=60,
        ),
        min_t=st.integers(min_value=2, max_value=6),
        max_t=st.integers(min_value=2, max_value=40),
    )
    @settings(max_examples=150, deadline=None)
    def test_stcs_plan_invariants(sizes, min_t, max_t):
        plan = size_tiered_plan(sizes, min_threshold=min_t, max_threshold=max_t)
        seen = [r for job in plan for r in job]
        # every planned run exists, appears at most once, jobs are disjoint
        assert len(seen) == len(set(seen))
        assert set(seen) <= set(sizes)
        # every job respects the thresholds
        assert all(min_t <= len(job) or len(job) == min(max_t, len(job)) for job in plan)
        assert all(len(job) >= 2 for job in plan)
        assert all(len(job) <= max_t for job in plan)
        # determinism
        assert plan == size_tiered_plan(sizes, min_threshold=min_t, max_threshold=max_t)
except ImportError:  # pragma: no cover
    pass


def test_schema_evolution_across_runs(spark, tmp_path):
    """The ALTER TABLE ADD life-cycle: a run written before the new column
    reads with nulls for it; compaction merges evolved and pre-evolution
    runs; a run missing a KEY column fails loudly."""
    from cassandra_util_spark.operators.merge import merge_snapshots

    meta = TableMeta(("k",), (), "writetime")
    store = RunStore(str(tmp_path / "evo"), meta)
    store.append_run(
        spark.createDataFrame([("a", 1), ("b", 1)], "k string, writetime bigint")
    )
    # column added after the first run was written
    store.append_run(
        spark.createDataFrame(
            [("b", 2, "fresh"), ("c", 2, "new")],
            "k string, writetime bigint, note string",
        )
    )
    with pytest.raises(Exception):
        store.read_merged(spark)  # strict by default
    view = {(r.k, r.note) for r in store.read_merged(
        spark, allow_schema_evolution=True
    ).collect()}
    assert view == {("a", None), ("b", "fresh"), ("c", "new")}
    # compaction handles the mixed-schema bucket and preserves the view
    store.compact(spark, min_threshold=2)
    assert len(store.live_runs()) == 1
    after = {(r.k, r.note) for r in store.read_merged(spark).collect()}
    assert after == view
    # a run missing a KEY column is corrupt, not evolved
    bad = spark.createDataFrame([(9,)], "writetime bigint")
    ok = spark.createDataFrame([("a", 1)], "k string, writetime bigint")
    with pytest.raises(ValueError, match="key column"):
        merge_snapshots([ok, bad], meta, allow_schema_evolution=True)


def test_maintenance_cycle_with_retention(spark, tmp_path):
    """The full ops loop: compaction rounds with a real convictor's
    keep-expression applied during each merge, then vacuum — ending with
    fewer runs, the convicted rows gone, and the kept view intact."""
    from cassandra_util_spark.core.table import KeyedTable
    from cassandra_util_spark.operators.convictors import create_convictor
    from cassandra_util_spark.sources.runs import maintain

    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "maint"), meta)
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("writetime", F.unix_micros(F.col("ts").cast("timestamp")))
        .select("user_id", "event_id", "event_type", "writetime")
    )
    for lo, hi in [(1, 15), (1, 8), (5, 12), (9, 15)]:
        store.append_run(ev.filter(F.col("user_id").between(lo, hi)))

    table = KeyedTable(ev, meta, "events")
    rules = spark.createDataFrame(
        [("purge_low", "user_id", ("1", "5"))],
        "rulename string, column string, range struct<lo:string,hi:string>",
    )
    conv = create_convictor("rule_based_deletion", table, rules=rules)
    summary = maintain(
        store, spark,
        keep_expr=lambda df: df.filter(conv.keep_expr()),
        min_threshold=2, vacuum_min_age_s=0.0,
    )
    assert summary["rounds"] >= 1 and summary["runs_after"] < summary["runs_before"]
    assert summary["vacuumed"], "compacted inputs must be vacuumed"
    final = store.read_merged(spark)
    assert final.filter(F.col("user_id") <= 5).count() == 0
    want = ev.filter(F.col("user_id") > 5).count()
    assert final.count() == want


def test_skip_index_prunes_on_non_key_columns(spark, tmp_path):
    """Round 6: per-run stats now cover EVERY atomic column (the
    minmax-skip-index shape), so a bounded read on a NON-key column skips
    disjoint runs entirely — the time-partitioned-ingest payoff where runs
    arrive in event-time order."""
    from cassandra_util_spark.core.table import TableMeta
    from cassandra_util_spark.sources.runs import RunStore

    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "runs"), meta)
    # three "daily" runs: disjoint day column, overlapping user_id ranges
    for day in (1, 2, 3):
        df = spark.range(100).selectExpr(
            "id as user_id",
            f"id + {day * 1000} as event_id",
            f"{day}L as day",
            f"id + {day} as writetime",
        )
        store.append_run(df)

    # skip-index stats recorded for every atomic column
    stats = store.run_stats()
    assert all("columns" in s and "day" in s["columns"] for s in stats.values())

    # pruning on the non-key column touches exactly one run
    assert len(store.prune_runs(2, 2, column="day")) == 1
    assert len(store.prune_runs(None, 1, column="day")) == 1
    assert len(store.prune_runs(2, None, column="day")) == 2
    # unknown column: no stats -> nothing pruned (optimization, never a bet)
    assert len(store.prune_runs(0, 0, column="nope")) == 3

    # the bounded read returns exactly the day-2 rows, merged
    got = store.read_merged(spark, extra_bounds={"day": (2, 2)})
    assert got.count() == 100
    assert {r["day"] for r in got.select("day").distinct().collect()} == {2}

    # combined key + extra bound composes
    both = store.read_merged(spark, key_lower=10, key_upper=19, extra_bounds={"day": (3, None)})
    assert both.count() == 10
    assert {r["event_id"] - r["user_id"] for r in both.collect()} == {3000}


def test_zordered_append_same_view_and_2d_file_pruning(spark, tmp_path):
    """``append_run(zorder_by=...)`` changes the FILE layout, never the
    view: the LWW merge over a z-ordered store is row-identical to the
    key-clustered store, the run stats record layout provenance, and the
    Morton layout's payoff is measurable — inside a run, files can be
    eliminated on EACH z-column independently (footer min/max rectangles),
    which the key-clustered layout cannot do for a non-leading column."""
    import os

    from cassandra_util_spark.operators.zorder import zorder_file_stats

    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("writetime", F.unix_micros(F.col("ts").cast("timestamp")))
        .withColumn("ux", F.col("user_id") % 256)
        .withColumn("ex", F.col("event_id") % 256)
        .select("user_id", "event_id", "event_type", "writetime", "ux", "ex")
    )
    plain = RunStore(str(tmp_path / "plain"), meta)
    plain.append_run(ev)
    zord = RunStore(str(tmp_path / "zord"), meta)
    run = zord.append_run(ev, zorder_by=["ux", "ex"], zorder_files=8)

    a = plain.read_merged(spark).orderBy("user_id", "event_id").collect()
    b = zord.read_merged(spark).orderBy("user_id", "event_id").collect()
    assert a == b

    st = zord.run_stats()[run]
    assert st["zorder"] == ["ux", "ex"]
    # whole-run skip index unaffected by layout: same min/max either way
    assert st["columns"]["ux"] == plain.run_stats()[plain.live_runs()[0]]["columns"]["ux"]

    files = zorder_file_stats(os.path.join(zord.root, run), ["ux", "ex"])
    assert len(files) > 1
    # bounds at each column's observed midpoint (the first Morton split —
    # range-relative so the test holds at any scale factor's id range)
    cux = st["columns"]["ux"]
    cex = st["columns"]["ex"]
    mid_ux = (int(cux["min"]) + int(cux["max"])) // 2
    mid_ex = (int(cex["min"]) + int(cex["max"])) // 2
    # each dimension prunes files on its own, and the 2-D corner query
    # touches a strict minority
    assert any(f["ux_min"] > mid_ux for f in files)
    assert any(f["ex_min"] > mid_ex for f in files)
    hit = [f for f in files if f["ux_min"] <= mid_ux and f["ex_min"] <= mid_ex]
    assert 0 < len(hit) < len(files)
    # bounded read through the normal path still merges correctly
    view = zord.read_merged(
        spark, extra_bounds={"ux": (None, mid_ux), "ex": (None, mid_ex)}
    )
    expect = [r for r in a if r["ux"] <= mid_ux and r["ex"] <= mid_ex]
    assert sorted(view.collect()) == sorted(expect)


def test_footer_stats_byte_compatible_with_spark_agg(spark, tmp_path):
    """A run's stats entry derives the skip index from parquet FOOTERS (a
    driver-side metadata walk — no Spark job per append); the Spark agg
    survives as the fallback for unreadable footers.  The two paths must
    produce byte-identical stats payloads across every atomic type the
    store carries (long, double, string, timestamp, date, boolean,
    all-null) or the two paths would prune differently."""
    import datetime
    import json
    import os

    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    store = RunStore(str(tmp_path / "runs"), meta)
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("writetime", F.unix_micros(F.col("ts").cast("timestamp")))
        .withColumn("dbl", F.col("user_id") / 7.0)
        .withColumn("tstamp", F.col("ts").cast("timestamp"))
        .withColumn("dt", F.to_date(F.col("ts").cast("timestamp")))
        .withColumn("flag", F.col("user_id") % 2 == 0)
        .withColumn("allnull", F.lit(None).cast("string"))
        .withColumn("payload", F.encode(F.col("event_type"), "utf-8"))  # binary
        .select(
            "user_id", "event_id", "event_type", "writetime",
            "dbl", "tstamp", "dt", "flag", "allnull", "payload",
        )
    )
    run = store.append_run(ev)
    path = os.path.join(store.root, run)

    footer = store._footer_stats(path)
    assert footer is not None, "testdata parquet must have readable footers"
    agg = store._spark_stats(spark, path)

    # normalize exactly like _publish does (json with default=str)
    norm = lambda s: json.loads(json.dumps(
        {"rows": s[0], "columns": s[1]}, default=str))
    nf, na = norm(footer), norm(agg)
    assert nf["rows"] == na["rows"] == ev.count()
    # binary columns appear on neither path; all-null columns on both
    assert "payload" not in nf["columns"] and "payload" not in na["columns"]
    assert nf["columns"]["allnull"] == {"min": None, "max": None}
    assert nf["columns"] == na["columns"]
    # the published record entry is the footer-derived payload
    st = store.run_stats()[run]
    assert st["columns"] == nf["columns"] and st["rows"] == nf["rows"]

    # NaN-bearing float column: Spark's parquet writer records NaN as a
    # stat bound, and folding NaN through </> (always false) could
    # UNDERSTATE the run max and wrongly prune it — the footer path must
    # OMIT the column (omitted = never pruned = never loses rows)
    nan_ev = ev.withColumn(
        "dbl", F.when(F.col("user_id") == 1, float("nan")).otherwise(F.col("dbl"))
    )
    run2 = store.append_run(nan_ev)
    st2 = store.run_stats()[run2]
    assert "dbl" not in st2["columns"]
    assert "user_id" in st2["columns"]  # other columns unaffected
    # a bound far above the data prunes the clean run via its dbl stats
    # but must KEEP the NaN run (no stats = non-prunable)
    assert store.prune_runs(1e12, 2e12, column="dbl") == [run2]


# -- schema-carrying reads: planning a store read runs no Spark job ---------


def _small_store(spark, root, n_runs=4):
    """``n_runs`` overlapping runs over keys 0..10*n_runs+9: run i holds keys
    [10*i, 10*i + 20) at writetime i, so every key but the lowest ten has
    a stale version in an older run."""
    store = RunStore(root, TableMeta(("k",), (), "wt"))
    for i in range(n_runs):
        store.append_run(spark.range(10 * i, 10 * i + 20).selectExpr(
            "id as k", f"{i} as wt", f"concat('v', cast(id as string), '_{i}') as v"
        ))
    return store


def _scans_files(df) -> bool:
    """True when ``df``'s physical plan reads parquet through a Spark
    ``FileScan``; a read served on the driver plans a local scan instead."""
    return "FileScan" in df._jdf.queryExecution().executedPlan().toString()


def test_building_store_reads_launches_no_job(spark, tmp_path, count_jobs, count_compiles):
    from cassandra_util_spark.sources.snapshots import SnapshotStore

    store = _small_store(spark, str(tmp_path / "runs"))
    for name, build in [
        ("unbounded", lambda: store.read_merged(spark)),
        ("bounded", lambda: store.read_merged(spark, key_lower=0, key_upper=15)),
        ("pruned", lambda: store.read_merged(spark, key_lower=1000, key_upper=2000)),
    ]:
        _, jobs = count_jobs(f"build-{name}", build)
        assert jobs == 0, f"building the {name} read ran {jobs} job(s)"
    # keys 0..15 live in the first two runs only: the lookup reads both on
    # the driver and runs no job; a second lookup with new bounds compiles
    # no code either (the Spark path inlines bounds into generated code)
    assert store.prune_runs(0, 15) == store.live_runs()[:2]
    rows, jobs = count_jobs("lookup", lambda: store.read_merged(
        spark, key_lower=0, key_upper=15).collect())
    assert jobs == 0, f"a bounded 2-run lookup ran {jobs} jobs"
    assert sorted((r.k, r.wt) for r in rows) == [
        (k, 0 if k < 10 else 1) for k in range(16)
    ]
    (rows, jobs), compiles = count_compiles(lambda: count_jobs(
        "lookup-again", lambda: store.read_merged(spark, key_lower=5, key_upper=12).collect()))
    assert (jobs, compiles) == (0, 0)
    assert sorted((r.k, r.wt) for r in rows) == [
        (k, 0 if k < 10 else 1) for k in range(5, 13)
    ]

    snap = SnapshotStore(str(tmp_path / "snap"))
    v = snap.commit(spark.range(5).selectExpr("id as k", "array(id) as ids"))
    for name, read in [("current", lambda: snap.read(spark)),
                       ("version", lambda: snap.read(spark, v))]:
        df, jobs = count_jobs(f"snapshot-{name}", read)
        assert jobs == 0, f"SnapshotStore.read ({name}) ran {jobs} job(s)"
    assert sorted(r.k for r in df.collect()) == list(range(5))


def test_listing_threshold_caps_paths_per_scan(spark, tmp_path, count_jobs):
    """More paths than the parallel-listing threshold in one scan would
    list them in a Spark job; the scan is cut so planning stays job-free."""
    store = _small_store(spark, str(tmp_path / "runs"))
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        df, jobs = count_jobs("build-cut", lambda: store.read_merged(spark))
        assert jobs == 0
        assert len(store._scan(spark, store.live_runs())) == 2
    finally:
        spark.conf.set(key, old)
    assert df.count() == 50


def test_record_readers_open_one_file(spark, tmp_path, monkeypatch):
    """Runs, levels, stats, sizes and schemas live in one commit record:
    ``run_stats()``, ``live_runs()``, ``run_sizes()`` and ``_scan`` over a
    4-run store each open exactly that one file.  So do a keyed, tagged
    snapshot store's ``current_version``, ``current_tag``, ``read_meta``,
    ``versions`` and ``read`` (planning only)."""
    import builtins
    import os

    from cassandra_util_spark.sources.snapshots import SnapshotStore

    store = _small_store(spark, str(tmp_path / "runs"))
    runs = store.live_runs()
    snap = SnapshotStore(str(tmp_path / "snap"))
    snap.commit(spark.range(3).selectExpr("id as k", "id as wt"), TableMeta(("k",), (), "wt"))
    snap.commit(spark.range(4).selectExpr("id as k", "id as wt"), tag="app:1")
    real_open = builtins.open
    opened = []

    def spy(path, *args, **kwargs):
        opened.append(str(path))
        return real_open(path, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", spy)
    record = os.path.join(store.root, "_RUNS")
    for name, read in [
        ("run_stats", store.run_stats),
        ("live_runs", store.live_runs),
        ("run_sizes", store.run_sizes),
        ("_scan", lambda: store._scan(spark, runs)),
    ]:
        opened.clear()
        read()
        assert opened == [record], (name, opened)
    snap_record = os.path.join(snap.root, "_CURRENT")
    for name, read in [
        ("current_version", snap.current_version),
        ("current_tag", snap.current_tag),
        ("read_meta", snap.read_meta),
        ("versions", snap.versions),
        ("read", lambda: snap.read(spark)),
    ]:
        opened.clear()
        read()
        assert opened == [snap_record], (name, opened)
    monkeypatch.setattr(builtins, "open", real_open)
    assert (snap.current_version(), snap.current_tag()) == ("v00002", "app:1")
    assert snap.read_meta() == TableMeta(("k",), (), "wt")
    assert snap.read(spark).count() == 4
    sizes = store.run_sizes()
    for r in runs:
        parts = os.listdir(os.path.join(store.root, r))
        assert sizes[r] == sum(
            os.path.getsize(os.path.join(store.root, r, p))
            for p in parts if p.endswith(".parquet") and not p.startswith((".", "_"))
        )


def test_non_record_runs_file_raises(tmp_path):
    """A ``_RUNS`` that is not a commit record — a bare run list, a bare
    number, empty, a record missing a field — raises naming the store; it
    never reads as empty.  So does a snapshot store's ``_CURRENT`` that is
    not a record, the old two-line version/tag pointer included."""
    import os

    from cassandra_util_spark.sources.snapshots import SnapshotStore

    store = RunStore(str(tmp_path / "runs"), TableMeta(("k",), (), "wt"))
    assert store.live_runs() == []  # no record yet: an empty store
    snap = SnapshotStore(str(tmp_path / "snap"))
    assert snap.versions() == [] and snap.current_tag() is None
    for text in ("r00001 0\nr00002 0", "5", "", "[]", "v00001\napp:3", '{"runs": []}'):
        for root, name, reads in [
            (store.root, "_RUNS", (store.live_runs, store.run_stats, store.live_levels)),
            (snap.root, "_CURRENT", (snap.current_version, snap.current_tag,
                                     snap.versions, snap.read_meta)),
        ]:
            with open(os.path.join(root, name), "w") as f:
                f.write(text)
            for read in reads:
                with pytest.raises(ValueError, match="not a commit record") as e:
                    read()
                assert root in str(e.value)


def test_extra_bound_prunes_once(spark, tmp_path, monkeypatch):
    """An ``extra_bounds`` column is pruned once per read, not once per
    run: a 4-run store read with one extra bound and no key bound calls
    ``prune_runs`` exactly once, and reads the right rows."""
    store = _small_store(spark, str(tmp_path / "runs"))
    real = store.prune_runs
    calls = []

    def counting(*args, **kwargs):
        calls.append((args, kwargs))
        return real(*args, **kwargs)

    monkeypatch.setattr(store, "prune_runs", counting)
    got = store.read_merged(spark, extra_bounds={"wt": (2, 3)}).collect()
    assert len(calls) == 1, calls
    # keys 20..49 have their newest version in runs 2 and 3
    assert sorted((r.k, r.wt) for r in got) == [
        (k, 2 if k < 30 else 3) for k in range(20, 50)
    ]


def test_schema_evolution_groups_scans_by_schema(spark, tmp_path):
    """Runs with different recorded column sets are separate scans, and
    under ``allow_schema_evolution`` their union fills the added column
    with nulls, in the column order a union of per-run reads had."""
    store = RunStore(str(tmp_path / "evo"), TableMeta(("k",), (), "wt"))
    old_df = "k bigint, wt bigint"
    new_df = "k bigint, wt bigint, note string"
    store.append_run(spark.createDataFrame([(1, 1), (2, 1)], old_df))
    store.append_run(spark.createDataFrame([(2, 2, "b"), (3, 2, "c")], new_df))
    store.append_run(spark.createDataFrame([(4, 3)], old_df))
    store.append_run(spark.createDataFrame([(5, 4, "e")], new_df))
    assert len(store._scan(spark, store.live_runs())) == 2
    view = store.read_merged(spark, allow_schema_evolution=True)
    assert view.columns == ["k", "wt", "note"]
    assert sorted(tuple(r) for r in view.collect()) == [
        (1, 1, None), (2, 2, "b"), (3, 2, "c"), (4, 3, None), (5, 4, "e"),
    ]


def test_recorded_schema_equals_inferred_schema(spark, tmp_path):
    """The schema a run records is exactly what an inferring read of the
    run reports, for every column type the engine writes: array<int>
    token ids, array<struct> doc spans, array<bigint> signatures,
    timestamp, string and bigint — and the schema a SnapshotStore's record
    holds for a version matches that version the same way."""
    import os
    import shutil

    from pyspark.sql.types import StructType

    from cassandra_util_spark.sources.snapshots import SnapshotStore

    df = spark.range(3).selectExpr(
        "id as doc_id",
        "array(cast(id as int), 7) as token_ids",
        "array(named_struct('doc_id', id, 'start', 0, 'end', cast(id as int))) as spans",
        "array(id, id * 3) as sig",
        "timestamp_micros(id * 1000000) as ts",
        "concat('d', cast(id as string)) as text",
        "id * 10 as writetime",
    )
    store = RunStore(str(tmp_path / "runs"), TableMeta(("doc_id",), (), "writetime"))
    run = store.append_run(df)
    recorded = StructType.fromJson(store.run_stats()[run]["schema"])
    inferred = spark.read.parquet(os.path.join(store.root, run)).schema
    assert recorded == inferred
    assert [f.name for f in recorded.fields] == df.columns
    assert sorted(store.read_merged(spark).collect()) == sorted(df.collect())

    snap = SnapshotStore(str(tmp_path / "snap"))
    v = snap.commit(df)
    (entry,) = snap._record()["versions"]
    assert entry["name"] == v
    recorded = StructType.fromJson(entry["schema"])
    assert recorded == spark.read.parquet(os.path.join(snap.root, v)).schema
    # a version directory the record does not list does not read; the error
    # names store and version
    shutil.copytree(os.path.join(snap.root, v), os.path.join(snap.root, "v00002"))
    with pytest.raises(FileNotFoundError) as err:
        snap.read(spark, "v00002")
    assert snap.root in str(err.value) and "v00002" in str(err.value)


def test_snapshot_commit_publishes_only_readable_versions(spark, tmp_path, monkeypatch):
    """A version whose footer yields no schema would publish and then fail
    every read, so commit raises before the record swap and leaves no
    version dir behind; a multi-line tag raises before anything is
    written."""
    import os

    from cassandra_util_spark.sources import snapshots
    from cassandra_util_spark.sources.snapshots import SnapshotStore

    snap = SnapshotStore(str(tmp_path / "snap"))
    df = spark.range(3)
    v1 = snap.commit(df, tag="a:0")
    with open(os.path.join(snap.root, "_CURRENT")) as f:
        pointer = f.read()

    with pytest.raises(ValueError, match="single line"):
        snap.commit(df, tag="a\n1")
    assert snap.versions() == [v1]

    monkeypatch.setattr(snapshots, "_footer_schema", lambda path: None)
    with pytest.raises(RuntimeError, match="no readable parquet footer schema"):
        snap.commit(df, tag="a:1")
    with open(os.path.join(snap.root, "_CURRENT")) as f:
        assert f.read() == pointer
    assert snap.versions() == [v1]
    assert sorted(r.id for r in snap.read(spark).collect()) == [0, 1, 2]


def test_fault_in_snapshot_record_swap_leaves_store_unchanged(spark, tmp_path, monkeypatch):
    """A commit that raises inside its record swap, after the version's
    files are written, publishes nothing: version, tag and read are the
    old ones, the orphaned directory is not listed, the next commit neither
    reuses nor lists it, and ``vacuum`` deletes it."""
    import os

    from cassandra_util_spark.sources import snapshots
    from cassandra_util_spark.sources.snapshots import SnapshotStore

    snap = SnapshotStore(str(tmp_path / "snap"))
    v1 = snap.commit(spark.range(3), tag="a:0")
    real_swap = snapshots._swap_record

    def crash_once(root, name, read, change):
        monkeypatch.setattr(snapshots, "_swap_record", real_swap)

        def crash(rec):
            raise OSError("crash inside the record swap")

        return real_swap(root, name, read, crash)

    monkeypatch.setattr(snapshots, "_swap_record", crash_once)
    with pytest.raises(OSError, match="inside the record swap"):
        snap.commit(spark.range(5), tag="a:1")
    orphan = "v00002"
    assert os.path.isdir(os.path.join(snap.root, orphan))
    assert (snap.current_version(), snap.current_tag()) == (v1, "a:0")
    assert sorted(r.id for r in snap.read(spark).collect()) == [0, 1, 2]
    assert snap.versions() == [v1]
    assert not os.path.exists(os.path.join(snap.root, "_LOCK"))

    v3 = snap.commit(spark.range(4), tag="a:1")
    assert v3 == "v00003" and snap.versions() == [v1, v3]
    assert snap.read(spark).count() == 4
    assert snap.vacuum(keep_last=1) == [v1, orphan]
    assert snap.versions() == [v3]
    assert sorted(os.listdir(snap.root)) == ["_CURRENT", v3]


def test_snapshot_vacuum_keeps_the_newest_versions(spark, tmp_path):
    """``vacuum(keep_last=n)`` deletes all but the newest ``n`` versions:
    ``keep_last=0`` leaves only the current one, a ``keep_last`` past the
    version count deletes nothing, and a negative one raises."""
    import os

    from cassandra_util_spark.sources.snapshots import SnapshotStore

    snap = SnapshotStore(str(tmp_path / "snap"))
    versions = [snap.commit(spark.range(n)) for n in (1, 2, 3)]
    with pytest.raises(ValueError, match="keep_last"):
        snap.vacuum(keep_last=-1)
    assert snap.vacuum(keep_last=5) == [] and snap.versions() == versions
    assert snap.vacuum(keep_last=0) == versions[:2]
    assert snap.versions() == versions[2:]
    assert sorted(os.listdir(snap.root)) == ["_CURRENT", versions[2]]
    assert snap.read(spark).count() == 3
    assert snap.vacuum(keep_last=0) == []


# -- one-partition store paths: inputs that fit one partition merge and ----
# -- write with no exchange; anything larger keeps the key shuffle ---------


def test_small_store_paths_run_one_job_without_exchange(
    spark, tmp_path, count_jobs, exchanges, advisory_size, size_estimate
):
    """Under the size bound a bounded 2-run lookup runs no job (it is
    served on the driver), and its Spark merge, an append, a 4-run STCS
    compact and a clustered snapshot commit each run in ONE job with no
    exchange.  With the bound one byte below the frame's estimate each
    shuffles again and yields the same rows; at exactly the estimate,
    which is the kept runs' recorded bytes, the lookup is still served on
    the driver and its Spark merge still takes the one-partition path."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from cassandra_util_spark.core.table import KeyedTable
    from cassandra_util_spark.sources.snapshots import SnapshotStore

    def union(store, runs):
        return reduce(DataFrame.unionByName, store._scan(spark, runs))

    # bounded 2-run lookup, served on the driver; allow_schema_evolution
    # keeps the same read on the Spark merge
    store = _small_store(spark, str(tmp_path / "lookup"))
    lookup = lambda: store.read_merged(spark, key_lower=0, key_upper=15)  # noqa: E731
    merge = lambda: store.read_merged(  # noqa: E731
        spark, key_lower=0, key_upper=15, allow_schema_evolution=True)
    kept = store.prune_runs(0, 15)
    est = size_estimate(union(store, kept))
    assert est == sum(store.run_sizes()[r] for r in kept)
    for bound in (64 << 20, est):
        advisory_size(bound)
        want, jobs = count_jobs(f"lookup-{bound}", lambda: lookup().collect())
        assert jobs == 0 and not _scans_files(lookup())
        got, jobs = count_jobs(f"merge-{bound}", lambda: merge().collect())
        assert jobs == 1 and exchanges(merge()) == 0
        assert sorted(got) == sorted(want)
    advisory_size(est - 1)
    got, jobs = count_jobs("lookup-over", lambda: lookup().collect())
    assert jobs > 1 and exchanges(lookup()) == 1
    assert sorted(got) == sorted(want)
    advisory_size(64 << 20)

    # append: the write lands as one sorted file
    meta = TableMeta(("k",), (), "wt")
    df = spark.range(40).selectExpr("(id * 7) % 40 as k", "id as wt", "id * 3 as v")
    small = RunStore(str(tmp_path / "append-small"), meta)
    _, jobs = count_jobs("append-small", lambda: small.append_run(df))
    assert jobs == 1 and exchanges(KeyedTable(df, meta).clustered()) == 0
    advisory_size(size_estimate(df) - 1)
    big = RunStore(str(tmp_path / "append-over"), meta)
    _, jobs = count_jobs("append-over", lambda: big.append_run(df))
    assert jobs > 1 and exchanges(KeyedTable(df, meta).clustered()) == 1
    assert sorted(big.read_merged(spark).collect()) == sorted(
        small.read_merged(spark).collect()
    )
    advisory_size(64 << 20)

    # 4-run STCS compact: merge and write in the one job
    small = _small_store(spark, str(tmp_path / "compact-small"))
    big = _small_store(spark, str(tmp_path / "compact-over"))
    est = size_estimate(union(big, big.live_runs()))
    _, jobs = count_jobs("compact-small", lambda: small.compact(spark, min_threshold=4))
    assert jobs == 1 and len(small.live_runs()) == 1
    advisory_size(est - 1)
    _, jobs = count_jobs("compact-over", lambda: big.compact(spark, min_threshold=4))
    assert jobs > 1 and len(big.live_runs()) == 1
    assert sorted(big.read_merged(spark).collect()) == sorted(
        small.read_merged(spark).collect()
    )
    advisory_size(64 << 20)

    # clustered snapshot commit
    snap_small = SnapshotStore(str(tmp_path / "snap-small"))
    snap_big = SnapshotStore(str(tmp_path / "snap-over"))
    _, jobs = count_jobs("commit-small", lambda: snap_small.commit(df, meta=meta))
    assert jobs == 1
    advisory_size(size_estimate(df) - 1)
    _, jobs = count_jobs("commit-over", lambda: snap_big.commit(df, meta=meta))
    assert jobs > 1
    assert sorted(snap_big.read(spark).collect()) == sorted(
        snap_small.read(spark).collect()
    )


def test_inflated_estimate_keeps_the_shuffle(spark, exchanges, size_estimate):
    """A join multiplies its inputs' size estimates, so an explode-and-join
    of a few thousand rows estimates far above the bound: clustering it
    keeps the partition-key shuffle (one more exchange than the frame)."""
    from cassandra_util_spark.core.table import KeyedTable, _fits_one_partition

    exploded = spark.range(2000).selectExpr("id as k", "explode(sequence(0, 4)) as x")
    df = exploded.join(spark.range(10000).withColumnRenamed("id", "k"), "k")
    # far above the default 64 MB bound, for 10,000 rows
    assert size_estimate(df) > 64 << 20 and not _fits_one_partition(df)
    clustered = KeyedTable(df, TableMeta(("x",), ("k",))).clustered()
    assert exchanges(clustered) == exchanges(df) + 1
    assert clustered.count() == 10000


# -- driver-side bounded reads: small key-bounded reads run no Spark job ---


@contextmanager
def _session_conf(spark, conf: dict):
    """Set the SQL confs ``conf`` for the block, restoring the session's
    values after it."""
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _typed_store(spark, root):
    """Three overlapping runs over even keys 0..58 whose non-key columns
    cover the types the stores hold (arrays, the windows store's span
    structs, timestamps, decimals, strings), with nulls in each.  The last
    run stores its timestamps as INT96, Spark's default physical type."""
    store = RunStore(root, TableMeta(("k",), ("c",), "wt"))
    for i, ts_type in enumerate(("TIMESTAMP_MICROS", "TIMESTAMP_MICROS", "INT96")):
        with _session_conf(spark, {"spark.sql.parquet.outputTimestampType": ts_type}):
            store.append_run(spark.range(10 * i, 10 * i + 20).selectExpr(
                "id * 2 as k", "cast(id % 2 as int) as c", f"{i} as wt",
                "case when id % 5 = 0 then null else array(cast(id as int), null) end as ids",
                "array(named_struct('doc', id, 'off', cast(id as int), 'len', 2)) as doc_spans",
                "case when id % 6 = 0 then null else timestamp_micros(id * 1000003) end as ts",
                "case when id % 3 = 0 then null else cast(id / 7 as decimal(28,6)) end as amount",
                "cast(id / 3 as decimal(10,2)) as price",
                f"case when id % 4 = 0 then null else concat('v{i}_', cast(id as string)) end as s",
            ))
    return store


def test_driver_read_equals_spark_read_on_every_type(spark, tmp_path, advisory_size, count_jobs):
    """A bounded read served on the driver returns the rows and the schema
    of the same read on the Spark path (forced by a one-byte size bound),
    over array, span-struct, timestamp, decimal and string columns with
    nulls: key bounds, a string extra bound, a read that keeps runs but
    no rows, and one whose bounds prune every run."""
    store = _typed_store(spark, str(tmp_path / "typed"))
    forms = {
        "key": {"key_lower": 15, "key_upper": 41},
        "key-open": {"key_lower": 30},
        "extra": {"extra_bounds": {"s": ("v1_", "v2_15"), "wt": (1, None)}},
        "no-rows": {"key_lower": 21, "key_upper": 21},
        "all-pruned": {"key_lower": 1000, "key_upper": 2000},
    }
    driver = {}
    for name, kw in forms.items():
        df = store.read_merged(spark, **kw)
        rows, jobs = count_jobs(f"typed-{name}", df.collect)
        assert jobs == 0 and not _scans_files(df), name
        driver[name] = (df.schema, sorted(rows))
    assert driver["key"][1] and not driver["no-rows"][1]
    advisory_size(1)
    for name, kw in forms.items():
        df = store.read_merged(spark, **kw)
        assert _scans_files(df) == (name != "all-pruned"), name
        assert (df.schema, sorted(df.collect())) == driver[name], name


def test_driver_read_falls_back_to_spark(spark, tmp_path, advisory_size, monkeypatch):
    """Bounded reads the driver does not serve keep the Spark scan and
    return the LWW rows: a float key, runs with two recorded schemas, a
    run Spark wrote in the legacy hybrid calendar (which Arrow would not
    rebase), and runs whose recorded bytes exceed the driver-read cap or
    the one-partition bound."""
    import datetime

    from cassandra_util_spark.sources import runs as runs_module

    floats = RunStore(str(tmp_path / "floats"), TableMeta(("x",), (), "wt"))
    for i in range(2):
        floats.append_run(spark.range(10 * i, 10 * i + 20).selectExpr(
            "cast(id as double) / 2 as x", f"{i} as wt"))
    df = floats.read_merged(spark, key_lower=2.0, key_upper=7.5)
    assert _scans_files(df)
    assert sorted((r.x, r.wt) for r in df.collect()) == [
        (k / 2, 0 if k < 10 else 1) for k in range(4, 16)
    ]

    # the same columns in another order: a second recorded schema that the
    # strict union by name still merges
    mixed = RunStore(str(tmp_path / "mixed"), TableMeta(("k",), (), "wt"))
    mixed.append_run(spark.range(10).selectExpr("id as k", "0 as wt", "'a' as v"))
    mixed.append_run(spark.range(5, 15).selectExpr("'b' as v", "id as k", "1 as wt"))
    df = mixed.read_merged(spark, key_lower=3, key_upper=8)
    assert _scans_files(df) and df.columns == ["k", "wt", "v"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (k, 0, "a") for k in (3, 4)] + [(k, 1, "b") for k in range(5, 9)]

    legacy = RunStore(str(tmp_path / "legacy"), TableMeta(("k",), (), "wt"))
    with _session_conf(spark, {"spark.sql.parquet.outputTimestampType": "INT96",
                               "spark.sql.parquet.int96RebaseModeInWrite": "LEGACY"}):
        legacy.append_run(spark.range(5).selectExpr(
            "id as k", "0 as wt", "timestamp'1500-01-01 00:00:00' as ts"))
    df = legacy.read_merged(spark, key_lower=1, key_upper=3)
    assert _scans_files(df)
    assert [r.ts for r in df.collect()] == [datetime.datetime(1500, 1, 1)] * 3

    store = _small_store(spark, str(tmp_path / "runs"))
    want = sorted(store.read_merged(spark, key_lower=0, key_upper=15).collect())
    kept = sum(store.run_sizes()[r] for r in store.prune_runs(0, 15))
    with monkeypatch.context() as m:
        m.setattr(runs_module, "_DRIVER_READ_BYTES", kept - 1)
        df = store.read_merged(spark, key_lower=0, key_upper=15)
        assert _scans_files(df) and sorted(df.collect()) == want
    advisory_size(kept - 1)
    df = store.read_merged(spark, key_lower=0, key_upper=15)
    assert _scans_files(df) and sorted(df.collect()) == want


def test_lww_merge_table_keeps_the_newest_row_per_key():
    """The Arrow form of the LWW policy: per (composite) key the newest
    writetime wins and a null writetime loses to any value, as in the
    Spark merge's descending order; without a writetime column one row
    per key is kept."""
    import pyarrow as pa

    from cassandra_util_spark.operators.merge import lww_merge_table

    t = pa.table({
        "k": [2, 1, 1, 2, 1, 3],
        "c": [0, 0, 1, 0, 0, 0],
        "wt": [5, 3, None, None, 7, None],
        "v": ["b5", "a3", "x", "bn", "a7", "c"],
    })
    got = lww_merge_table(t, ["k", "c"], "wt").to_pylist()
    assert [(r["k"], r["c"], r["v"]) for r in got] == [
        (1, 0, "a7"), (1, 1, "x"), (2, 0, "b5"), (3, 0, "c")]
    assert lww_merge_table(t, ["k"], None)["k"].to_pylist() == [1, 2, 3]
    assert lww_merge_table(t.slice(0, 0), ["k"], "wt").num_rows == 0


# -- store file format: every file a store writes is zstd parquet ----------


def _codecs(root):
    """The compression codecs of every column chunk in the parquet parts
    under ``root``, read from the footers.  Every part must hold a row
    group, so an empty file cannot pass for a zstd one."""
    import os

    import pyarrow.parquet as pq

    codecs, parts = set(), 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                md = pq.ParquetFile(os.path.join(d, f)).metadata
                assert md.num_row_groups > 0, os.path.join(d, f)
                parts += 1
                codecs |= {
                    md.row_group(g).column(c).compression
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)
                }
    assert parts, f"no parquet part under {root}"
    return codecs


def _store_writes(spark, root):
    """One write from each of the seven store write sites, as {site: the
    directory it wrote}."""
    import os

    from cassandra_util_spark.core.table import KeyedTable
    from cassandra_util_spark.operators.convictors import create_convictor
    from cassandra_util_spark.operators.counters import CounterStore
    from cassandra_util_spark.operators.retention import RetentionJob
    from cassandra_util_spark.sources.snapshots import SnapshotStore

    df = spark.range(200).selectExpr(
        "id as k", "id % 7 as wt", "id % 16 as x", "id % 13 as y",
        "concat('v', cast(id as string)) as v",
    )
    meta = TableMeta(("k",), (), "wt")
    stcs = RunStore(os.path.join(root, "stcs"), meta)
    appended = stcs.append_run(df)
    stcs.append_run(df)
    (merged,) = stcs.compact(spark, min_threshold=2)
    zord = RunStore(os.path.join(root, "zord"), meta)
    zrun = zord.append_run(df, zorder_by=["x", "y"], zorder_files=4)
    lv = RunStore(os.path.join(root, "leveled"), meta)
    lv.append_run(df)
    lv.append_run(df)
    chunks = lv.compact_leveled(spark, min_threshold=2)
    counters = CounterStore(os.path.join(root, "counters"), ["k"], ["x"])
    counters.append_increments(df)
    counters.append_increments(df)
    folded = counters.compact(spark)
    table = KeyedTable(df, meta)
    snap = SnapshotStore(os.path.join(root, "snap"))
    stats = RetentionJob(
        table, create_convictor("odd_pk", table),
        backup_path=os.path.join(root, "backup"), store=snap,
    ).run()
    assert stats.kept == stats.convicted == 100 and len(chunks) == 1
    return {
        "append_run": os.path.join(stcs.root, appended),
        "append_run zorder": os.path.join(zord.root, zrun),
        "_compact_bucket": os.path.join(stcs.root, merged),
        "compact_leveled": os.path.join(lv.root, chunks[0]),
        "CounterStore.compact": os.path.join(counters.store.root, folded),
        "SnapshotStore.commit": snap.current_path(),
        "RetentionJob backup": stats.backup_path,
    }


def test_store_files_are_zstd(spark, tmp_path):
    """Every file each store write site writes carries ZSTD column chunks,
    under a session whose default parquet codec is snappy: the file format
    belongs to the store, and a plain write in the same session is snappy."""
    key = "spark.sql.parquet.compression.codec"
    old = spark.conf.get(key)
    spark.conf.set(key, "snappy")
    try:
        spark.range(10).write.parquet(str(tmp_path / "plain"))
        written = _store_writes(spark, str(tmp_path / "stores"))
    finally:
        spark.conf.set(key, old)
    assert _codecs(str(tmp_path / "plain")) == {"SNAPPY"}
    assert {site: _codecs(d) for site, d in written.items()} == {
        site: {"ZSTD"} for site in written
    }


def test_snappy_and_zstd_runs_merge_like_snappy_runs(spark, tmp_path):
    """Runs already on disk as snappy stay readable and merge with zstd
    runs: the codec is recorded per file and ``_scan`` groups runs by
    schema only.  A store of two snappy and two zstd runs gives the same
    ``read_merged`` view, STCS merge output and counter totals as a store
    holding the same four runs as snappy."""
    import os

    from cassandra_util_spark.core.table import KeyedTable
    from cassandra_util_spark.operators.counters import CounterStore

    frames = [
        spark.range(10 * i, 10 * i + 20).selectExpr(
            "id as k", f"{i} as wt", f"concat('v', cast(id as string), '_{i}') as v",
            f"cast(id % 3 + {i} as decimal(28,6)) as n",
        )
        for i in range(4)
    ]

    def snappy_run(store, df):
        run = store._next_run()
        KeyedTable(df, store.meta).clustered().write.option(
            "compression", "snappy").parquet(os.path.join(store.root, run))
        store._publish(add=[run])

    def build(root, zstd_runs):
        meta = TableMeta(("k",), (), "wt")
        lww = RunStore(os.path.join(root, "lww"), meta)
        counters = CounterStore(os.path.join(root, "counters"), ["k"], ["n"])
        for i, df in enumerate(frames):
            if i in zstd_runs:
                lww.append_run(df)
                counters.append_increments(df)
            else:
                snappy_run(lww, df)
                snappy_run(counters.store, df.select("k", "n"))
        codecs = {c for r in lww.live_runs() for c in _codecs(os.path.join(lww.root, r))}
        view = sorted(lww.read_merged(spark).collect())
        run = lww._compact_bucket(spark, lww.live_runs(), None)
        assert lww.live_runs() == [run]
        compacted = sorted(lww.read_merged(spark).collect())
        return codecs, view, compacted, sorted(counters.totals(spark).collect())

    mixed = build(str(tmp_path / "mixed"), zstd_runs={1, 3})
    snappy = build(str(tmp_path / "snappy"), zstd_runs=set())
    assert mixed[0] == {"SNAPPY", "ZSTD"} and snappy[0] == {"SNAPPY"}
    assert mixed[1:] == snappy[1:]
    assert mixed[1] == mixed[2]  # the merge output is the view


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    # one run: key -> value, at most one row per key
    _run_rows = st.dictionaries(st.integers(0, 24), st.integers(0, 99), min_size=1, max_size=10)

    @given(
        runs=st.lists(st.tuples(_run_rows, st.booleans()), min_size=2, max_size=4),
        data=st.data(),
        key_lo=st.integers(0, 24),
        key_span=st.integers(0, 24),
        wt_lo=st.integers(0, 40),
    )
    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_one_partition_merge_equals_shuffled_merge(
        spark, runs, data, key_lo, key_span, wt_lo
    ):
        """On small stores with distinct writetimes per key, every form of
        ``read_merged`` (unbounded, key-bounded, with ``extra_bounds``, and
        with ``allow_schema_evolution`` over runs with and without an added
        column) returns the same rows on the one-partition path as with
        the shuffle forced, and so does the view a compaction leaves.  The
        bounded and ``extra_bounds`` forms without schema evolution are
        served on the driver on the one-partition side and never on the
        forced-shuffle side."""
        import tempfile

        n_rows = sum(len(rows) for rows, _ in runs)
        wts = iter(data.draw(st.permutations(range(n_rows))))
        batches = [
            ([(k, next(wts), v) for k, v in rows.items()], with_note)
            for rows, with_note in runs
        ]
        evolve = len({with_note for _, with_note in batches}) > 1
        kw = {"allow_schema_evolution": True} if evolve else {}
        forms = [
            kw,
            {**kw, "key_lower": key_lo, "key_upper": key_lo + key_span},
            {**kw, "extra_bounds": {"wt": (wt_lo, None)}},
            {"allow_schema_evolution": True},
        ]

        def views(root):
            store = RunStore(root, TableMeta(("k",), (), "wt"))
            for rows, with_note in batches:
                df = spark.createDataFrame(rows, "k bigint, wt bigint, v bigint")
                if with_note:
                    df = df.withColumn("note", F.concat(F.lit("n"), F.col("v").cast("string")))
                store.append_run(df)
            served = []  # per read reaching the driver branch: was it served
            read_small = store._read_small

            def spy(*args):
                small = read_small(*args)
                served.append(small is not None)
                return small

            store._read_small = spy
            out = [
                {r.k: r.asDict() for r in store.read_merged(spark, **f).collect()}
                for f in forms
            ]
            store._compact_bucket(spark, store.live_runs(), None)
            out.append({r.k: r.asDict() for r in store.read_merged(
                spark, allow_schema_evolution=True).collect()})
            return out, served

        key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        old = spark.conf.get(key, None)
        with tempfile.TemporaryDirectory() as tmp:
            one, served_one = views(f"{tmp}/one")
            spark.conf.set(key, "1")  # nothing fits: every path shuffles
            try:
                shuffled, served_shuffled = views(f"{tmp}/shuffled")
            finally:
                if old is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, old)
        assert one == shuffled
        assert served_one == [True] * len(served_shuffled) and not any(served_shuffled)
        if evolve:  # schema-evolving reads always take the Spark path
            assert served_one == []
        # and the unbounded view is the last-write-wins of the batches
        newest = {}
        for rows, _ in batches:
            for k, wt, v in rows:
                if k not in newest or wt > newest[k][0]:
                    newest[k] = (wt, v)
        assert {k: (r["wt"], r["v"]) for k, r in one[0].items()} == newest
        assert one[-1] == one[3]
except ImportError:  # pragma: no cover
    pass
