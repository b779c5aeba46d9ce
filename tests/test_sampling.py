"""Deterministic sampling / data mixing (operators/sampling.py)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_hash_sample_deterministic_and_partition_independent(spark, docs):
    from cassandra_util_spark.operators.sampling import hash_sample

    a = sorted(r["doc_id"] for r in hash_sample(docs, 0.3, "doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in hash_sample(docs.repartition(17), 0.3, "doc_id").collect()
    )
    assert a == b and len(a) > 0
    # rate lands near the target (binomial tolerance on 500 docs)
    assert 0.2 < len(a) / docs.count() < 0.4


def test_hash_sample_nesting_ladder(spark, docs):
    """The 10% sample is a subset of the 50% sample — same seed, same key."""
    from cassandra_util_spark.operators.sampling import hash_sample

    small = {r["doc_id"] for r in hash_sample(docs, 0.1, "doc_id").collect()}
    big = {r["doc_id"] for r in hash_sample(docs, 0.5, "doc_id").collect()}
    assert small <= big and len(small) < len(big)


def test_hash_sample_fraction_bounds(spark, docs):
    from cassandra_util_spark.operators.sampling import hash_sample

    assert hash_sample(docs, 0.0, "doc_id").count() == 0
    assert hash_sample(docs, 1.0, "doc_id").count() == docs.count()
    with pytest.raises(ValueError):
        hash_sample(docs, 1.5, "doc_id")


def test_stratified_sample_rates_and_isolation(spark, docs):
    from cassandra_util_spark.operators.sampling import stratified_sample

    out = stratified_sample(
        docs, "lang", {"en": 1.0, "de": 0.0}, "doc_id", default_fraction=0.5
    )
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    full = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["en"] == full["en"]  # fraction 1.0 keeps the stratum whole
    assert "de" not in counts  # fraction 0.0 drops it entirely
    for lang in full:
        if lang not in ("en", "de"):
            assert 0.25 < counts.get(lang, 0) / full[lang] < 0.75  # default 0.5


def test_mixture_fractions_bottleneck_kept_whole():
    from cassandra_util_spark.operators.sampling import mixture_fractions

    fr = mixture_fractions(
        counts={"a": 1000, "b": 100, "c": 400}, weights={"a": 1, "b": 1, "c": 2}
    )
    # b is the scarcest relative to its weight -> sampled at 1.0
    assert fr["b"] == pytest.approx(1.0)
    # achieved mixture matches the target weights exactly
    achieved = {s: fr[s] * n for s, n in {"a": 1000, "b": 100, "c": 400}.items()}
    assert achieved["a"] == pytest.approx(achieved["b"])
    assert achieved["c"] == pytest.approx(2 * achieved["a"])
    assert all(0 < f <= 1 for f in fr.values())


def test_mixture_fractions_validation():
    from cassandra_util_spark.operators.sampling import mixture_fractions

    with pytest.raises(ValueError, match="unknown sources"):
        mixture_fractions({"a": 10}, {"a": 1, "zz": 1})
    with pytest.raises(ValueError, match="positive"):
        mixture_fractions({"a": 10}, {"a": 0})


def test_mixed_sample_achieves_target_mixture(spark, docs):
    from cassandra_util_spark.operators.sampling import mixed_sample

    weights = {"src0": 2.0, "src1": 1.0, "src2": 1.0}
    out = mixed_sample(docs.filter(F.col("source").isin(*weights)), "source", weights, "doc_id")
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # src0 should land near twice src1/src2 (hash-gating is approximate at
    # this corpus size; the FRACTIONS are exact, membership is binomial)
    assert counts["src0"] > counts["src1"] * 1.4
    assert counts["src0"] > counts["src2"] * 1.4
    # deterministic: rerun yields the identical row set
    again = mixed_sample(docs.filter(F.col("source").isin(*weights)), "source", weights, "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_stratified_repeat_multiplicities(spark, docs):
    from cassandra_util_spark.operators.sampling import stratified_repeat

    out = stratified_repeat(
        docs, "lang", {"en": 0.6, "de": 2.3, "zh": 0.0}, "doc_id"
    )
    full = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "zh" not in got                                # multiplicity 0 drops
    assert 0.4 < got["en"] / full["en"] < 0.8             # ~0.6 keep rate
    assert 2.0 <= got["de"] / full["de"] <= 3.0           # 2 + ~0.3 extra
    assert got["fr"] == full["fr"]                        # default 1.0 untouched
    # copies are numbered 1..n and distinct per doc
    per_doc = out.filter(F.col("lang") == "de").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("copy").alias("mx"),
        F.countDistinct("copy").alias("dc")).collect()
    assert all(r["n"] == r["mx"] == r["dc"] and r["n"] in (2, 3) for r in per_doc)


def test_stratified_repeat_deterministic_and_validated(spark, docs):
    from cassandra_util_spark.operators.sampling import stratified_repeat

    a = stratified_repeat(docs, "lang", {"de": 1.5}, "doc_id").collect()
    b = stratified_repeat(docs.repartition(13), "lang", {"de": 1.5}, "doc_id").collect()
    key = lambda r: (r["doc_id"], r["copy"])
    assert sorted(map(key, a)) == sorted(map(key, b))
    with pytest.raises(ValueError, match=">= 0"):
        stratified_repeat(docs, "lang", {"de": -1.0}, "doc_id")


def test_stratified_topk_exact_quota_and_stability(spark, docs):
    from cassandra_util_spark.operators.sampling import stratified_topk_sample

    out = stratified_topk_sample(docs, "lang", 10, "doc_id")
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    full = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in full.items():
        assert counts[lang] == min(10, n)  # exact quota
    # membership is stable under repartitioning
    again = stratified_topk_sample(docs.repartition(11), "lang", 10, "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # incremental-growth property: sample from a superset only shrinks per
    # stratum when lower-hash rows arrive; the k=5 sample nests in k=10
    small = {r["doc_id"] for r in stratified_topk_sample(docs, "lang", 5, "doc_id").collect()}
    big = {r["doc_id"] for r in out.collect()}
    assert small <= big
    with pytest.raises(ValueError):
        stratified_topk_sample(docs, "lang", 0, "doc_id")


def test_deterministic_shards_partition_invariant(spark, docs):
    from cassandra_util_spark.operators.sampling import deterministic_shards

    a = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in deterministic_shards(docs, "doc_id", 8).collect()
    }
    b = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in deterministic_shards(docs.repartition(17), "doc_id", 8).collect()
    }
    assert a == b and len(a) == docs.count()


def test_deterministic_shards_positions_contiguous(spark, docs):
    from collections import defaultdict

    from cassandra_util_spark.operators.sampling import deterministic_shards

    rows = deterministic_shards(docs, "doc_id", 4).collect()
    by_shard = defaultdict(list)
    for r in rows:
        assert 0 <= r["shard"] < 4
        by_shard[r["shard"]].append(r["pos"])
    # every shard's positions are exactly 1..n — a loader can range-scan them
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    assert len(by_shard) == 4  # 500 docs over 4 shards: all populated


def test_deterministic_shards_seed_changes_order(spark, docs):
    from cassandra_util_spark.operators.sampling import deterministic_shards

    a = {r["doc_id"]: (r["shard"], r["pos"])
         for r in deterministic_shards(docs, "doc_id", 8, seed="ep0").collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"])
         for r in deterministic_shards(docs, "doc_id", 8, seed="ep1").collect()}
    assert a != b  # a fresh epoch re-deals
    import pytest as _pytest

    with _pytest.raises(ValueError):
        deterministic_shards(docs, "doc_id", 0)


def test_deterministic_shards_order_disperses_sources(spark, docs):
    """Within a shard, consecutive positions should not replay the input's
    source-contiguous layout: the first 20 positions of shard 0 draw from
    more than one source."""
    from cassandra_util_spark.operators.sampling import deterministic_shards

    out = deterministic_shards(docs.select("doc_id"), "doc_id", 2)
    head = (
        out.filter(F.col("shard") == 0)
        .orderBy("pos")
        .limit(20)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source")
        .collect()
    )
    assert len({r["source"] for r in head}) > 1


def test_temperature_weights_limits():
    from cassandra_util_spark.operators.sampling import temperature_weights

    counts = {"web": 800, "books": 150, "code": 50}
    nat = temperature_weights(counts, alpha=1.0)
    assert abs(nat["web"] - 0.8) < 1e-12 and abs(nat["code"] - 0.05) < 1e-12
    uni = temperature_weights(counts, alpha=0.0)
    assert all(abs(v - 1 / 3) < 1e-12 for v in uni.values())
    mid = temperature_weights(counts, alpha=0.5)
    assert abs(sum(mid.values()) - 1.0) < 1e-12
    # temperature compresses the head, lifts the tail
    assert mid["web"] < nat["web"] and mid["code"] > nat["code"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_weights(counts, alpha=-0.1)
    with _pytest.raises(ValueError):
        temperature_weights({"a": 0}, alpha=0.5)


def test_temperature_weights_compose_with_mixture(spark, docs):
    """temperature_weights feeds mixed_sample: the realized sample's
    source shares move toward the temperature mixture."""
    from cassandra_util_spark.operators.sampling import (
        mixed_sample,
        temperature_weights,
    )

    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    w = temperature_weights(counts, alpha=0.5)
    out = mixed_sample(docs, "source", w, "doc_id")
    got = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(got.values())
    assert total > 0
    # the scarcest-relative-to-weight source is kept whole
    bottleneck = min(w, key=lambda s: counts[s] / w[s])
    assert got[bottleneck] == counts[bottleneck]
    # realized shares within binomial tolerance of the target mixture
    for s, ws in w.items():
        assert abs(got.get(s, 0) / total - ws) < 0.12


def test_corpus_splits_exhaustive_exclusive_stable(spark, docs):
    from cassandra_util_spark.operators.sampling import corpus_splits

    out = corpus_splits(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assigned = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(assigned) == docs.count()  # exhaustive, one row each
    counts = {s: list(assigned.values()).count(s) for s in ("train", "val", "test")}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert sum(counts.values()) == docs.count()
    # stable under repartitioning
    again = {r["doc_id"]: r["split"]
             for r in corpus_splits(docs.repartition(13), "doc_id",
                                    {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert assigned == again
    # growth never moves an existing row: assignment on a subset agrees
    subset = corpus_splits(docs.filter(F.col("doc_id") < 100), "doc_id",
                           {"train": 0.8, "val": 0.1, "test": 0.1})
    for r in subset.collect():
        assert assigned[r["doc_id"]] == r["split"]


def test_corpus_splits_validation():
    from cassandra_util_spark.operators.sampling import corpus_splits

    with pytest.raises(ValueError, match="sum to 1"):
        corpus_splits(None, "k", {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError, match="at least one"):
        corpus_splits(None, "k", {})
