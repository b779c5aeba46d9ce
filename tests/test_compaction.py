"""Tombstone-compaction and CDC-apply semantics.

The reference exercises delete semantics via live CQL DELETE round trips
(DeletedRecordsSinkSpec.scala write-then-delete); here the same life-cycle —
shadowing, delete-wins ties, zombie-preventing marker retention, gc_grace
purge — is pinned as pure DataFrame algebra.
"""

import pytest

from cassandra_util_spark.operators.merge import apply_changelog, compact_with_tombstones

NOW = 1_000_000  # µs "now" for the tests
GRACE = 100


def _cells(spark, rows):
    return spark.createDataFrame(
        rows, "k string, v string, writetime bigint, tombstone boolean"
    )


def _compact(df):
    return compact_with_tombstones(
        df, ["k"], "writetime", "tombstone", gc_grace_us=GRACE, now_us=NOW,
        tiebreak=["v"],
    )


def test_tombstone_shadows_older_cells(spark):
    out = _compact(_cells(spark, [
        ("a", "old", NOW - 50, False),
        ("a", None, NOW - 10, True),   # newer delete, inside grace
    ])).collect()
    assert len(out) == 1 and out[0].tombstone is True  # marker retained


def test_marker_purged_after_grace(spark):
    out = _compact(_cells(spark, [
        ("a", "old", NOW - 500, False),
        ("a", None, NOW - 200, True),  # delete older than grace: purge row+marker
    ])).collect()
    assert out == []


def test_live_cell_newer_than_tombstone_survives(spark):
    out = _compact(_cells(spark, [
        ("a", None, NOW - 50, True),
        ("a", "resurrected-legitimately", NOW - 10, False),
    ])).collect()
    assert len(out) == 1 and out[0].v == "resurrected-legitimately"


def test_delete_wins_at_equal_writetime(spark):
    out = _compact(_cells(spark, [
        ("a", "write", NOW - 10, False),
        ("a", None, NOW - 10, True),  # same writetime: Cassandra delete-wins
    ])).collect()
    assert len(out) == 1 and out[0].tombstone is True


def test_old_live_cell_never_purged(spark):
    # gc_grace applies to MARKERS only; ancient live data stays
    out = _compact(_cells(spark, [("a", "ancient", 1, False)])).collect()
    assert len(out) == 1 and out[0].v == "ancient"


def test_changelog_upsert_delete_reinsert(spark):
    base = spark.createDataFrame(
        [("a", "v0", 10), ("b", "v0", 10), ("c", "v0", 10)],
        "k string, v string, writetime bigint",
    )
    changes = spark.createDataFrame(
        [
            ("a", "v1", 20, "U"),          # update a
            ("b", None, 20, "D"),          # delete b
            ("c", None, 20, "D"),          # delete c ...
            ("c", "v2", 30, "U"),          # ... then re-insert c
            ("d", "v0", 20, "U"),          # insert new d
        ],
        "k string, v string, writetime bigint, op string",
    )
    out = {r.k: r.v for r in apply_changelog(
        base, changes, ["k"], "writetime", "op", tiebreak=["v"]
    ).collect()}
    assert out == {"a": "v1", "c": "v2", "d": "v0"}


def test_changelog_delete_wins_tie_and_stale_change_ignored(spark):
    base = spark.createDataFrame([("a", "base", 20)], "k string, v string, writetime bigint")
    changes = spark.createDataFrame(
        [
            ("a", None, 20, "D"),   # tie with base: delete wins
            ("b", "new", 10, "U"),
        ],
        "k string, v string, writetime bigint, op string",
    )
    out = {r.k: r.v for r in apply_changelog(
        base, changes, ["k"], "writetime", "op"
    ).collect()}
    assert out == {"b": "new"}

    stale = spark.createDataFrame(
        [("a", "stale", 5, "U")], "k string, v string, writetime bigint, op string"
    )
    out2 = {r.k: r.v for r in apply_changelog(
        base, stale, ["k"], "writetime", "op"
    ).collect()}
    assert out2 == {"a": "base"}  # older changelog entry loses to base


def test_changelog_single_shuffle(spark):
    base = spark.createDataFrame([("a", "v", 1)], "k string, v string, writetime bigint")
    changes = spark.createDataFrame(
        [("a", "w", 2, "U")], "k string, v string, writetime bigint, op string"
    )
    plan = apply_changelog(base, changes, ["k"], "writetime", "op")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # one hash partition per input branch of the union, same key
