"""Golden-count scenarios ported row-for-row from the reference's
RuleBasedDeletionConvictorSpec.scala — exact, deterministic oracles for the
rule→expression compiler and the retention job."""

import os

import pytest
from pyspark.sql import functions as F

from cassandra_util_spark.operators.convictors import RuleBasedDeletionConvictor
from cassandra_util_spark.operators.retention import RetentionJob


def surviving_count(table, rules_frame):
    convictor = RuleBasedDeletionConvictor(table, rules=rules_frame)
    job = RetentionJob(table, convictor)
    stats = job.run()
    assert not stats.spooked, stats.warnings
    return stats.kept


def test_rule_with_multiple_tenants(tenanted, rules_df):
    # RuleBasedDeletionConvictorSpec.scala:48-85 — expect 17 -> 5
    table = tenanted(
        [
            (1726, "00000151e518481a3b3e6939bc9493da"),
            (1726, "00000151f43248180be67107251b6167"),
            (1726, "00000151f84bd381fc78aca5e26567c0"),
            (1726, "00000151fc18df688b31da3f0215d55f"),
            (1742, "00000151cb75b17f7f53f2187da68102"),
            (1742, "00000151cbb68f50d0833f75269cef4d"),
            (1742, "00000151ce5d691144119389cabb2b6f"),
            (1742, "00000151db1fdba2a888063457159d3e"),
            (1742, "00000151dd6975e92eba7cdd4e4ecc12"),
            (1742, "00000151f1470429cdf31d0485bb99e8"),
            (1742, "00000151f4f221b20df147d1c14691b0"),
            (1742, "00000151f7dabc8c37a47b98d3533552"),
            (1753, "00000151d2b65a18a3aa7058aa6a2116"),
            (1753, "00000151f4da90041129071c9c9da7eb"),
            (1768, "00000151e1f2e6c5eb875453555c4e2e"),
            (1768, "00000151ffe7cc5df88bb70614edbbf0"),
            (1771, "000001520af1e48e75c67e3c82791880"),
        ]
    )
    rules = rules_df(
        [
            ("cid_1", "tenant", ("1726", "1726")),
            ("cid_2", "tenant", ("1742", "1742")),
            ("cid_3", "tenant", ("1771", "1771")),
            ("cid_3", "id", (None, "00000152000000000000000000000000")),
        ]
    )
    assert surviving_count(table, rules) == 5


def test_id_range_deletes_correctly(tenanted, rules_df):
    # :87-116 — AND of tenant + id upper bound; expect 11 -> 8
    table = tenanted(
        [
            (1782, "00000151d54828e1775e4d044a7b5766"),
            (1782, "00000151d587110b4d1a728565d72e30"),
            (1782, "00000151d776e879a4ada06c8c839ef3"),
            (1782, "00000151d9b90a33317258fef4bc49ed"),
            (1782, "00000151e25f060b49a8d79e897ab369"),
            (1782, "00000151e35ae631557c517014f885e1"),
            (1782, "00000151f08b0fc345cf5826903200cf"),
            (1782, "00000151f44306fcb6cadc71aaa3f372"),
            (1782, "00000151f9f0b9f98c5c9c616e4e3468"),
            (1782, "0000015203cb65b5c4a181d4222f7577"),
            (1782, "000001520a7fda1500bdf3318ef4ec95"),
        ]
    )
    rules = rules_df(
        [
            ("cid_2", "tenant", ("1782", "1782")),
            ("cid_2", "id", (None, "00000151d80000000000000000000000")),
        ]
    )
    assert surviving_count(table, rules) == 8


def test_tenant_numeric_range(tenanted, rules_df):
    # :118-139 — "1783".."1786" on a bigint column is a NUMERIC range; 4 -> 2
    table = tenanted(
        [
            (1785, "00000151ef35589ff90c54401aae08f5"),
            (1785, "0000015201153acb407978edcb28b452"),
            (1791, "00000151eb66fc0c2ffc298022a0e221"),
            (1791, "00000151f82053a2846086bd220a3abb"),
        ]
    )
    rules = rules_df([("cid_3", "tenant", ("1783", "1786"))])
    assert surviving_count(table, rules) == 2


def test_shortened_id_range(tenanted, rules_df):
    # :141-164 — short text bounds compare lexicographically; 6 -> 3
    table = tenanted(
        [
            (1808, "000001500d6e500520483cb290acf7c4"),
            (1824, "00000150cbb694020320975300cc349c"),
            (1824, "00000150d92640fbc244d1670884f022"),
            (1824, "00000150e4d7b9bb0675764d10c0db0c"),
            (1824, "00000150e5984a8b2444310df745223c"),
            (1824, "00000150f89554064a02d4c7e86c58d3"),
        ]
    )
    rules = rules_df([("cid_4", "id", ("", "00000150e0000000"))])
    assert surviving_count(table, rules) == 3


def test_full_miss_keeps_all(tenanted, rules_df):
    # :166-185 — no rules, keep everything; 5 -> 5
    table = tenanted(
        [
            (1879, "00000151ef32e8298ab774b3b950b97c"),
            (1883, "000001520d86a1830e6c40b6308c8aac"),
            (1884, "00000151df3e1efe7387e82c7c3d22a7"),
            (1885, "00000151e82201a09bcd632a95ca8d2d"),
            (1887, "00000151cb6c15d4cdceca118f9cbef1"),
        ]
    )
    rules = rules_df([]).limit(0)
    assert surviving_count(table, rules) == 5


def test_internal_range(tenanted, rules_df):
    # :187-209 — 5 -> 3
    table = tenanted(
        [
            (1842, "00000151d923f0936f0f4b31e55a970d"),
            (1842, "00000151f641b42540fe0258023693c8"),
            (1842, "00000152095ac91e0809ce0a2419304c"),
            (1842, "0000015209f75d0b86cb5717484ce0ea"),
            (1842, "000001520a0a63fbb0582435ae3efa5d"),
        ]
    )
    rules = rules_df([("cid_6", "id", ("00000151ff", "000001520a"))])
    assert surviving_count(table, rules) == 3


def test_sweep_for_oversized_values(tenanted, rules_df):
    # :211-235 — unbounded upper on text; only the short malformed id falls
    # in ["00001f", *); 7 -> 6
    table = tenanted(
        [
            (1827, "000151d4e6fec2fde7240e6c5e1fce00"),
            (1827, "00000151e992ed8adb38cfbc2e6c0c52"),
            (1827, "00000151f6cde9e92ea68f051f6d96b5"),
            (1838, "00000151fb731fff3aae3a1236a90551"),
            (1866, "00000151e560cec31329cd7cdc4ad37e"),
            (1866, "00000151f9cc533b6347f86571e34eda"),
            (1866, "0000015203ddcf3d1598b05a8f5f1c2f"),
        ]
    )
    rules = rules_df([("cid_7", "id", ("00001f", None))])
    assert surviving_count(table, rules) == 6


def test_dry_run_deletes_nothing(tenanted, rules_df):
    # DeletingCompactionStrategySpec.scala:255-305 — dry run evaluates but
    # reports only; both sides still counted
    table = tenanted([(1726, "aa"), (1750, "bb")])
    rules = rules_df([("r", "tenant", ("1726", "1726"))])
    convictor = RuleBasedDeletionConvictor(table, rules=rules)
    stats = RetentionJob(table, convictor, dry_run=True).run()
    assert stats.dry_run
    assert (stats.kept, stats.convicted) == (1, 1)


def test_spooked_on_non_key_column(spark, rules_df):
    from cassandra_util_spark.core.table import KeyedTable, TableMeta

    df = spark.createDataFrame([(1, "x", 5)], "tenant bigint, id string, other int")
    table = KeyedTable(df, TableMeta(("id", "tenant")))
    rules = rules_df([("r", "other", ("1", "9"))])
    convictor = RuleBasedDeletionConvictor(table, rules=rules)
    assert convictor.spooked
    stats = RetentionJob(table, convictor).run()
    # dry run: nothing is written; invalid rules are excluded from compilation
    # so the would-convict counters reflect only the parseable subset (here: 0)
    assert stats.dry_run and stats.convicted == 0 and stats.committed_version is None


def test_spooked_on_unparseable_bound(tenanted, rules_df):
    table = tenanted([(1, "x")])
    rules = rules_df([("r", "tenant", ("notanumber", None))])
    convictor = RuleBasedDeletionConvictor(table, rules=rules)
    assert convictor.spooked


def test_spooked_on_pk_ck_mix(spark, rules_df):
    from cassandra_util_spark.core.table import KeyedTable, TableMeta

    df = spark.createDataFrame([(1, 2, 3, 4)], "a int, b int, c int, d int")
    table = KeyedTable(df, TableMeta(("a",), ("b",)))
    rules = rules_df([("r", "a", ("1", "1")), ("r", "b", ("2", "2"))])
    convictor = RuleBasedDeletionConvictor(table, rules=rules)
    assert convictor.spooked  # RuleBasedDeletionConvictor.java:319-323


def test_empty_rule_convicts_nothing(tenanted, rules_df):
    # an empty rule "would convict EVERYTHING; choosing to convict nothing"
    from cassandra_util_spark.plans.rules import Rule

    table = tenanted([(1, "x"), (2, "y")])
    convictor = RuleBasedDeletionConvictor(table, rules=[Rule("empty", {})])
    stats = RetentionJob(table, convictor).run()
    assert not stats.spooked
    assert stats.kept == 2 and stats.convicted == 0


# ---------------------------------------------------------------------------
# Wet-run write paths: backup sink + snapshot commit (previously only the
# dry-run counters were covered)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "rng, want_kept, want_convicted",
    [
        (("1", "30"), 10, 90),       # partial conviction (a in 1..9 convicted)
        ((None, None), 0, 100),       # unbounded rule convicts everything:
                                      # kept side is empty at runtime, which
                                      # used to kill Observation.get
        (("9999", None), 100, 0),     # nothing convicted
    ],
)
def test_wet_run_backup_and_snapshot(spark, abcd, rules_df, tmp_path, rng, want_kept, want_convicted):
    from cassandra_util_spark.sources.snapshots import SnapshotStore

    table = abcd(["a"], ["b"])  # 100 rows, a in 0..9, b in 0..9
    rules = rules_df([("r", "a", rng)])
    convictor = RuleBasedDeletionConvictor(table, rules=rules)
    store = SnapshotStore(str(tmp_path / "snap"))
    backup = str(tmp_path / "backup")
    stats = RetentionJob(table, convictor, backup_path=backup, store=store).run()

    assert not stats.spooked, stats.warnings
    assert (stats.kept, stats.convicted) == (want_kept, want_convicted)
    assert stats.committed_version is not None
    # snapshot readback is exactly the kept rows
    assert store.read(spark).count() == want_kept
    # backup dir holds exactly the convicted rows (or was never created)
    if want_convicted:
        assert spark.read.parquet(backup).count() == want_convicted
    # the record advances per commit, and the store root holds only the
    # record and its version directories: no sidecar metadata files
    assert store.current_version() == stats.committed_version
    assert store.read_meta() == table.meta
    assert sorted(os.listdir(store.root)) == ["_CURRENT", stats.committed_version]
    for dirpath, _, files in os.walk(store.root):
        assert not {"_META", "_SAMPLER", "_SCHEMA.json"} & set(files), dirpath


def test_rules_loaded_via_select_statement(spark, tenanted, rules_df):
    """The reference's rules_select_statement path: the rule set is fetched by
    an operator-supplied parameterized SELECT over a shared rules table
    (RuleBasedDeletionConvictor.java:97-198) — here scoped by tenant through
    safe Statement binding, then compiled exactly like a rules DataFrame."""
    from cassandra_util_spark.operators.convictors import create_convictor
    from cassandra_util_spark.plans.statement import cql

    table = tenanted([(1726, "aa"), (1726, "bb"), (1750, "cc"), (1780, "dd")])
    # shared, multi-tenant rules table: only the tenant=1726 rule should load
    all_rules = rules_df(
        [("purge_1726", "tenant", ("1726", "1726")), ("purge_1750", "tenant", ("1750", "1750"))]
    ).withColumn("owner", F.col("rulename"))
    all_rules.createOrReplaceTempView("shared_rules")
    stmt = cql(
        "SELECT rulename, column, range FROM shared_rules WHERE rulename = :name",
        name="purge_1726",
    )
    convictor = create_convictor("rule_based_deletion", table, rules_select=stmt)
    stats = RetentionJob(table, convictor).run()
    assert not stats.spooked, stats.warnings
    # only tenant 1726 convicted; 1750 survives because ITS rule wasn't selected
    assert (stats.kept, stats.convicted) == (2, 2)

    # plain-string SELECT works too
    convictor2 = create_convictor(
        "rule_based_deletion", table,
        rules_select="SELECT rulename, column, range FROM shared_rules",
    )
    stats2 = RetentionJob(table, convictor2).run()
    assert (stats2.kept, stats2.convicted) == (1, 3)


def test_rules_and_rules_select_mutually_exclusive(tenanted, rules_df):
    from cassandra_util_spark.operators.convictors import (
        ConfigurationError,
        RuleBasedDeletionConvictor,
    )

    table = tenanted([(1, "x")])
    rules = rules_df([("r", "tenant", ("1", "1"))])
    with pytest.raises(ConfigurationError, match="not both"):
        RuleBasedDeletionConvictor(table, rules=rules, rules_select="SELECT 1")


def test_rule_impact_report_hostile_rule_names(spark):
    """ADVICE r4: rule names are config-supplied data and used to be
    interpolated into a stack() SQL string and used as aggregate aliases —
    a backtick/quote broke the expression and __total__/__any__ collided
    with the report's internal columns.  Names now never touch the plan
    namespace."""
    from cassandra_util_spark.core.table import KeyedTable, TableMeta
    from cassandra_util_spark.plans.rules import Range, Rule, rule_impact_report

    df = spark.range(100).select(
        F.col("id").alias("pk"), (F.col("id") % 10).alias("ck")
    )
    t = KeyedTable(df, TableMeta(("pk",), ("ck",), None))
    hostile = [
        Rule("we`ird ' name", {"pk": (Range("0", "49"),)}, None),
        Rule("__total__", {"pk": (Range("90", "99"),)}, None),
        Rule("__any__", {"pk": (Range("0", "9"),)}, None),
    ]
    rows = {r.rulename: (r.n_convicted, r.share)
            for r in rule_impact_report(t, hostile).collect()}
    # numeric pks compare as text bounds here: "0".."49" matches by string
    # order, but counts just need to be exact per the same match expr
    from cassandra_util_spark.plans.rules import rule_match_expr, ruleset_convict_expr

    for rule in hostile:
        if rule.name == "__any__":
            continue
        want = df.filter(rule_match_expr(rule, t)).count()
        assert rows[rule.name][0] == want, rule.name
    # both __any__ rows exist: the user's and the union's (label collision is
    # data-level only, never an expression error)
    all_rows = rule_impact_report(t, hostile).collect()
    assert len(all_rows) == 4  # 3 rules + union
    assert sum(1 for r in all_rows if r.rulename == "__any__") == 2
