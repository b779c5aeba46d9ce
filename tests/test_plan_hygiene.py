"""Physical-plan regression guards: the queries whose 100 TB story is
"map-only, no shuffle" must STAY shuffle-free, and the retention core must
keep its predicate in the parquet scan's PushedFilters.  A correctness-
preserving edit that silently adds an Exchange or strands the filter
post-scan is a perf regression the oracle check cannot see."""

import re

import pytest

from cassandra_util_spark.entry_queries import QUERIES

# a shuffle is any Exchange that is not a broadcast (broadcasts move a
# small side once; they are the point of several of these plans)
_SHUFFLE = re.compile(r"(?<!Broadcast)Exchange")

SF_DIR = "/root/testdata/sf0.001"

MAP_ONLY = [
    "stratified_sample_docs",
    "doc_repetition_filter",
    "pii_redaction",
    "weighted_repeat_docs",
    "doc_chunks",
    "text_quality",
    "lang_id",
    "doc_fingerprint",
    "token_count_regex",
    "media_frame_plan",
]


def _physical(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("name", MAP_ONLY)
def test_map_only_queries_have_no_shuffle(spark, name):
    plan = _physical(QUERIES[name](spark, SF_DIR))
    assert not _SHUFFLE.search(plan), f"{name} gained a shuffle:\n{plan[:2000]}"


def test_retention_predicate_reaches_pushed_filters(spark):
    plan = _physical(QUERIES["retention_rules_delete"](spark, SF_DIR))
    assert not _SHUFFLE.search(plan)
    scan_part = plan.split("PushedFilters", 1)
    assert len(scan_part) == 2, "no PushedFilters in scan"
    assert "l_orderkey" in scan_part[1][:300], scan_part[1][:300]


def test_map_only_queries_prune_unused_columns(spark):
    """stratified_sample_docs reads only (doc_id, lang): the text column
    must not survive into ReadSchema."""
    plan = _physical(QUERIES["stratified_sample_docs"](spark, SF_DIR))
    read = plan.split("ReadSchema", 1)[1][:300]
    assert "doc_id" in read and "text" not in read, read


def test_query_registry_prefix_stable():
    """The driver's correctness gate runs the first 50 queries of
    QUERIES, and that prefix is entry_queries._DRIVER_WINDOW.  Pin it, so
    an import-order or decorator shuffle cannot silently change which
    queries get driver rows: a rotation edits that tuple and this
    snapshot in the same commit, with its reasons in the commit message
    and PARITY.md.  Every registered query must also have an oracle."""
    from cassandra_util_spark.entry_queries import ORACLES, QUERIES

    first50 = [
        "bpe_encode_oov_fallback",
        "ivfpq_recall_audit",
        "epoch_plan_from_store",
        "curriculum_windows_from_store",
        "tokenizer_persisted_encode",
        "bpe_roundtrip_oov",
        "tokenizer_streaming_encode",
        "dedup_ngram_jaccard_capped",
        "dedup_fingerprint",
        "events_json_props",
        "media_frame_plan",
        "odd_pk_filter",
        "orders_profile",
        "orders_status_rollup",
        "paged_fetch",
        "token_count_regex",
        "writetime_projection",
        "ann_cosine_topk",
        "dedup_exact",
        "dedup_simhash",
        "weighted_sample_logcost",
        "logcost_streaming_sample",
        "weighted_sample_by_lang",
        "corpus_budget_cut",
        "padding_waste_report",
        "mixture_budget_execution",
        "dedup_token_spans",
        "cdc_apply",
        "tombstone_compaction",
        "q9_product_type_profit",
        "bucketed_colocated_join",
        "embedding_quantize",
        "dedup_clusters_star",
        "training_corpus_assembly",
        "sketch_heavy_hitters",
        "runstore_leveled_view",
        "dedup_incremental_lsh",
        "bm25_search",
        "sequence_packing",
        "dedup_winnowing",
        "events_funnel",
        "contamination_report",
        "lang_id",
        "doc_fingerprint",
        "retention_rules_antijoin",
        "set_ops_except_intersect",
        "retention_ttl_mixed_keys",
        "events_user_gaps",
        "semantic_dedup",
        "q1_pricing_summary",
    ]
    assert list(QUERIES)[:50] == first50
    # every registered query keeps a full-strength oracle
    assert set(QUERIES) == set(ORACLES)


def test_plan_join_scans_each_side_exactly_once(spark):
    """VERDICT r5 task 5: the advisory's cost contract.  The declarative
    form re-derived each CM sketch under three differently-shaped
    aggregates and Catalyst does NOT insert ReusedExchange across them —
    measured 3 scans per side.  plan_join now builds one sketch per side
    (one scan each, pinned here) and collects it (bounded ≤ depth·width by
    construction); the returned advisory row is a local relation carrying
    NO deferred rescan of either input."""
    from pyspark.sql import functions as F

    from cassandra_util_spark.operators.sketches import count_min_build, plan_join

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_custkey").alias("k")
    )
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("k")
    )
    # the one scan each side pays: its sketch build
    sketch_plan = _physical(count_min_build(o, "k"))
    # formatted explain lists each node in the tree AND a detail section —
    # count the numbered detail entries
    assert len(re.findall(r"\(\d+\) Scan parquet", sketch_plan)) == 1, sketch_plan[:1500]
    # the advisory result re-scans nothing
    advisory_plan = _physical(plan_join(o, c, "k"))
    assert "Scan parquet" not in advisory_plan, advisory_plan[:1500]


def test_advised_join_exec_plans_a_broadcast_join(spark):
    """The executor must not just compute the right rows — the broadcast_b
    advice has to MATERIALIZE as a BroadcastHashJoin in the physical plan
    (a silent fall-back to sort-merge would be the 100 TB regression the
    advisory exists to prevent)."""
    plan = _physical(QUERIES["advised_join_exec"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_scoped_shuffle_partitions_restores_on_error(spark):
    """The streaming-drain partition-sizing helper must restore the
    session conf even when the drain raises — a leaked tiny shuffle
    partition count would silently de-parallelize every later query in
    the driver's shared session."""
    import pytest

    from cassandra_util_spark.entry_queries import _scoped_shuffle_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="boom"):
        with _scoped_shuffle_partitions(spark, 3):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
