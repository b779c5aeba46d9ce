"""Bottom-k (KMV) sample sketch (operators/sketches.py): determinism,
mergeability, plan shape (TakeOrderedAndProject — per-partition heaps, no
full sort), and quantile-estimate accuracy vs the exact distribution."""

import pytest
from pyspark.sql import functions as F

from cassandra_util_spark.operators.sketches import (
    bottomk_merge,
    bottomk_sample,
    sample_quantiles,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    df.cache().count()
    return df


def test_sample_deterministic_and_sized(docs):
    a = bottomk_sample(docs, "doc_id", k=256, payload=("n_chars",)).collect()
    b = bottomk_sample(docs, "doc_id", k=256, payload=("n_chars",)).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert len(a) == 256
    # ascending by (h, doc_id): the k smallest under the total order
    hs = [(r["h"], r["doc_id"]) for r in a]
    assert hs == sorted(hs)


def test_merge_equals_direct(docs):
    """The closure property: shard-local bottom-k's merged == whole-table
    bottom-k (also hash-certified against the shared DuckDB oracle by
    bottomk_shard_merge)."""
    direct = {(r["h"], r["doc_id"]) for r in
              bottomk_sample(docs, "doc_id", k=64, payload=("n_chars",)).collect()}
    shards = [
        bottomk_sample(docs.filter(F.col("doc_id") % 4 == i), "doc_id", k=64,
                       payload=("n_chars",))
        for i in range(4)
    ]
    merged = {(r["h"], r["doc_id"]) for r in
              bottomk_merge(*shards, k=64, key_col="doc_id").collect()}
    assert merged == direct


def test_merge_conflicting_payload_survivor_deterministic(spark):
    """When the same key arrives with DIFFERENT payload across merge
    inputs (an attribute changed between micro-batches), the survivor is
    the smallest (priority, payload) tuple — independent of input order —
    so replayed/re-ordered merges reproduce the sample bit-for-bit
    (ADVICE r9: dropDuplicates picked an arbitrary survivor)."""
    schema = "h bigint, doc_id bigint, n_chars bigint"
    a = spark.createDataFrame([(10, 1, 100), (20, 2, 50)], schema)
    b = spark.createDataFrame([(10, 1, 99), (20, 2, 70)], schema)
    ab = {(r["doc_id"], r["n_chars"]) for r in
          bottomk_merge(a, b, k=8, key_col="doc_id").collect()}
    ba = {(r["doc_id"], r["n_chars"]) for r in
          bottomk_merge(b, a, k=8, key_col="doc_id").collect()}
    assert ab == ba == {(1, 99), (2, 50)}


def test_merge_tiebreak_skips_unorderable_and_sorts_nulls_first(spark):
    """ADVICE r10 on the deterministic survivor: a map-typed payload is
    not orderable — it must be EXCLUDED from the tiebreak (ordering by it
    raises AnalysisException), and a null payload sorts before any
    non-null one (ascending NULLS FIRST), both now documented in the
    docstring.  One row per key survives either way."""
    schema = "h bigint, doc_id bigint, n_chars bigint, attrs map<string,string>"
    a = spark.createDataFrame([(10, 1, 100, {"x": "1"}), (20, 2, None, None)], schema)
    b = spark.createDataFrame([(10, 1, 99, {"x": "2"}), (20, 2, 70, {"y": "3"})], schema)
    ab = [(r["doc_id"], r["n_chars"]) for r in
          bottomk_merge(a, b, k=8, key_col="doc_id").collect()]
    ba = [(r["doc_id"], r["n_chars"]) for r in
          bottomk_merge(b, a, k=8, key_col="doc_id").collect()]
    # n_chars (orderable) decides key 1; key 2's null payload wins the
    # nulls-first ascending tiebreak over 70
    assert sorted(ab) == sorted(ba) == [(1, 99), (2, None)]


def test_merge_tiebreak_skips_nested_unorderable_types(spark):
    """ADVICE r11: orderability is a TRANSITIVE property (Spark's
    TypeUtils rule) — array<map<...>> and struct-containing-a-map payloads
    are just as unorderable as a top-level map and must be excluded from
    the tiebreak too, not raise AnalysisException in the Window.orderBy."""
    schema = (
        "h bigint, doc_id bigint, n_chars bigint, "
        "tags array<map<string,string>>, "
        "meta struct<name:string, attrs:map<string,string>>"
    )
    a = spark.createDataFrame(
        [(10, 1, 100, [{"x": "1"}], ("n", {"a": "1"}))], schema
    )
    b = spark.createDataFrame(
        [(10, 1, 99, [{"x": "2"}], ("n", {"a": "2"}))], schema
    )
    ab = bottomk_merge(a, b, k=8, key_col="doc_id").collect()
    ba = bottomk_merge(b, a, k=8, key_col="doc_id").collect()
    # one survivor, decided by the orderable n_chars column, order-insensitive
    assert len(ab) == len(ba) == 1
    assert ab[0]["n_chars"] == ba[0]["n_chars"] == 99


def test_plan_is_take_ordered_not_full_sort(docs):
    """orderBy+limit must compile to TakeOrderedAndProject (per-partition
    O(k) heaps) — a global Sort before the limit would be the
    single-partition scale bug this operator exists to avoid."""
    s = bottomk_sample(docs, "doc_id", k=256)
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:800]


def test_quantile_estimates_track_exact_cdf(docs):
    """Rank accuracy: the CDF position of each k=256 estimate must sit
    within ±0.10 of its target probability (O(1/sqrt(k)) ~ 6% expected)."""
    s = bottomk_sample(docs, "doc_id", k=256, payload=("n_chars",))
    est = {r["p"]: r["estimate"] for r in
           sample_quantiles(s, "n_chars", key_col="doc_id").collect()}
    n = docs.count()
    for p, v in est.items():
        cdf = docs.filter(F.col("n_chars") <= v).count() / n
        assert abs(cdf - p) <= 0.10, (p, v, cdf)


def test_fast_hash_variant_same_machinery(docs):
    """xxhash64 twin: same shape, same size, different (engine-native)
    order — the production fast path, certified by the portable twin."""
    s = bottomk_sample(docs, "doc_id", k=64, hash_fn="xxhash64").collect()
    assert len(s) == 64
    with pytest.raises(ValueError, match="unknown hash_fn"):
        bottomk_sample(docs, "doc_id", hash_fn="sha1")


def test_streaming_bottomk_equals_batch_sample(spark, docs, tmp_path):
    """The streamed store after draining N micro-batches must hold EXACTLY
    the whole-corpus bottom-k (the closure property through the
    exactly-once snapshot protocol)."""
    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.sketches import stream_bottomk_to_store

    d = docs.select("doc_id", "n_chars")
    src = str(tmp_path / "src")
    for i in range(3):
        d.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
    store = SnapshotStore(str(tmp_path / "bk"))
    stream = (
        spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_bottomk_to_store(
        stream, store, str(tmp_path / "cp"), "doc_id", k=64, payload=("n_chars",)
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in store.read(spark).collect()}
    want = {tuple(r) for r in
            bottomk_sample(d, "doc_id", k=64, payload=("n_chars",)).collect()}
    assert got == want and len(got) == 64


def test_sampler_identity_pinned_and_mismatch_fails(spark, docs, tmp_path):
    """ADVICE r10: a store must refuse to merge deltas built under a
    different sampler identity (seed/mode/hash/key/k) — mixed-seed
    priorities are not comparable, so the merged sample would be
    statistically invalid with no error.  The resolved identity is the
    ``sampler`` field of the store's commit record, set by the first
    batch; the store root holds only that record and its version
    directories."""
    import os

    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.sketches import stream_bottomk_to_store

    d = docs.select("doc_id", "n_chars").limit(200)
    src = str(tmp_path / "src")
    d.coalesce(1).write.parquet(src)
    store = SnapshotStore(str(tmp_path / "bk"))
    stream = (
        spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_bottomk_to_store(
        stream, store, str(tmp_path / "cp1"), "doc_id", k=32, payload=("n_chars",)
    )
    q.awaitTermination(120)
    ident = {"kind": "bottomk", "mode": "uniform", "seed": "bk",
             "hash_fn": "portable", "key_col": "doc_id",
             "weight_col": None, "k": 32}
    assert store._record()["sampler"] == ident
    assert sorted(os.listdir(store.root)) == ["_CURRENT", *store.versions()]
    for dirpath, _, files in os.walk(store.root):
        assert not {"_META", "_SAMPLER", "_SCHEMA.json"} & set(files), dirpath
    versions = store.versions()

    # continuing the same store under a different identity (weighted mode
    # resolves seed='wbk') must fail loudly before the drain starts, not
    # merge silently
    stream2 = (
        spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    with pytest.raises(RuntimeError, match="sampler identity"):
        stream_bottomk_to_store(
            stream2, store, str(tmp_path / "cp2"), "doc_id", k=32,
            payload=("n_chars",), weight_col="n_chars",
        )
    assert store._record()["sampler"] == ident and store.versions() == versions


def test_sampler_identity_pin_race_is_first_writer_wins(spark, tmp_path, monkeypatch):
    """ADVICE r11: two streams first-using the same FRESH store must not
    both pin.  The identity is compared under the record lock in the
    commit's swap, so an identity another writer publishes between the
    caller's read of the record and its swap survives, and the loser
    raises instead of overwriting it.  Simulated by committing the
    winner's version while the loser's files are already written; a
    same-identity commit afterwards converges silently on the winner's
    pin."""
    from cassandra_util_spark.sources import snapshots
    from cassandra_util_spark.sources.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "race"))
    winner = {"kind": "bottomk", "mode": "uniform", "seed": "bk", "k": 32}
    loser = {"kind": "bottomk", "mode": "weighted", "seed": "wbk", "k": 32}
    df = spark.range(3)
    assert store._record()["sampler"] is None  # the loser's read
    real_schema = snapshots._footer_schema

    def winner_lands_first(path):
        monkeypatch.setattr(snapshots, "_footer_schema", real_schema)
        store._commit(df, tag="w:0", sampler=winner)  # the concurrent winner
        return real_schema(path)

    monkeypatch.setattr(snapshots, "_footer_schema", winner_lands_first)
    with pytest.raises(RuntimeError, match="sampler identity"):
        store._commit(df, tag="l:0", sampler=loser)
    # the winner's pin, version and mark survive untouched
    rec = store._record()
    assert rec["sampler"] == winner
    assert (rec["current"], rec["mark"]) == ("v00002", "w:0")
    assert store.versions() == ["v00002"]
    with pytest.raises(RuntimeError, match="sampler identity"):
        store._commit(df, sampler=loser)
    store._commit(df, tag="w:1", sampler=winner)  # matching identity: clean
    store.commit(df)  # a commit naming no identity keeps the pin
    assert store._record()["sampler"] == winner and store.current_tag() == "w:1"


def test_grouped_sample_and_quantiles(docs):
    """Per-group bottom-k: each group holds exactly min(k, |group|) rows,
    every group of the input is represented, and the grouped quantile
    estimates track each group's exact CDF within the k=64 rank error."""
    from cassandra_util_spark.operators.sketches import (
        bottomk_sample_grouped,
        sample_quantiles_grouped,
    )

    s = bottomk_sample_grouped(docs, "lang", "doc_id", k=64, payload=("n_chars",))
    sizes = {r["lang"]: r["n"] for r in
             s.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    pops = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == set(pops)
    for lang, n in sizes.items():
        assert n == min(64, pops[lang]), (lang, n, pops[lang])
    est = sample_quantiles_grouped(s, "lang", "n_chars", key_col="doc_id").collect()
    for r in est:
        grp = docs.filter(F.col("lang") == r["lang"])
        cdf = grp.filter(F.col("n_chars") <= r["estimate"]).count() / pops[r["lang"]]
        assert abs(cdf - r["p"]) <= 0.2, (r, cdf)  # k=64 -> ~12.5% rank error


def test_probed_cells_reader_handles_missing_and_empty(spark, tmp_path):
    """_read_probed_cells (sources/ivf_index.py): cells with no directory
    are skipped via bounded existence checks, and an all-missing probe
    returns an empty frame with the layout's schema instead of raising —
    the degenerate paths a probe against a sparse index hits."""
    from cassandra_util_spark.sources.ivf_index import _read_probed_cells

    root = str(tmp_path / "codes")
    df = spark.createDataFrame(
        [(1, [1, 2], 0), (2, [3, 4], 2)], "vec_id bigint, codes array<bigint>, cell int"
    )
    df.write.partitionBy("cell").parquet(root)
    got = _read_probed_cells(spark, root, [0, 1, 2])  # cell=1 has no dir
    assert {r["vec_id"] for r in got.collect()} == {1, 2}
    empty = _read_probed_cells(spark, root, [7, 8])
    assert empty.count() == 0
    assert set(empty.columns) == {"vec_id", "codes", "cell"}


# property test: merge closure holds for ANY shard partitioning and k —
# pure-python model of the operator's (hash, key) total order
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import hashlib

    def _h(key: int) -> int:
        return int(hashlib.md5(f"bk:{key}".encode()).hexdigest()[:8], 16)

    @settings(max_examples=100, deadline=None)
    @given(
        keys=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                      max_size=200, unique=True),
        n_shards=st.integers(min_value=1, max_value=7),
        k=st.integers(min_value=1, max_value=50),
    )
    def test_property_merge_closure(keys, n_shards, k):
        """bottom-k of the union == bottom-k of the shards' bottom-k's,
        for any disjoint shard split — the law that makes per-shard and
        per-micro-batch maintenance lossless.  Modeled on the exact
        (md5-word hash, key) order the operator uses."""
        order = sorted(keys, key=lambda d: (_h(d), d))
        direct = order[:k]
        shards = [[d for d in keys if d % n_shards == i] for i in range(n_shards)]
        locals_ = [sorted(s, key=lambda d: (_h(d), d))[:k] for s in shards]
        merged = sorted({d for s in locals_ for d in s}, key=lambda d: (_h(d), d))[:k]
        assert merged == direct
except ImportError:  # pragma: no cover
    pass


def test_weighted_sample_bias_determinism_and_guard(docs):
    """Weighted bottom-k: deterministic, biased toward heavier rows
    (mean n_chars of the length-weighted sample must exceed the uniform
    sample's), closed under shard merge, and loud on out-of-range
    weights."""
    from cassandra_util_spark.operators.sketches import weighted_bottomk_sample

    d = docs.withColumn("wt", (F.col("n_chars") / F.lit(16)).cast("int") + F.lit(1))
    a = weighted_bottomk_sample(d, "doc_id", "wt", k=128, payload=("n_chars",)).collect()
    b = weighted_bottomk_sample(d, "doc_id", "wt", k=128, payload=("n_chars",)).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b] and len(a) == 128
    uni = bottomk_sample(docs, "doc_id", k=128, payload=("n_chars",)).collect()
    mean_w = sum(r["n_chars"] for r in a) / len(a)
    mean_u = sum(r["n_chars"] for r in uni) / len(uni)
    assert mean_w > mean_u, (mean_w, mean_u)
    # shard-merge closure: union of shard samples re-limited == direct
    direct = [(r["pri"], r["doc_id"]) for r in a]
    parts = []
    for i in range(3):
        parts.extend(
            (r["pri"], r["doc_id"])
            for r in weighted_bottomk_sample(
                d.filter(F.col("doc_id") % 3 == i), "doc_id", "wt", k=128,
                payload=("n_chars",),
            ).collect()
        )
    assert sorted(set(parts))[:128] == direct
    # zero/negative/oversized weights must raise, not silently vanish
    bad = docs.withColumn("wt", F.lit(0))
    with pytest.raises(Exception, match="weight out of"):
        weighted_bottomk_sample(bad, "doc_id", "wt", k=8).collect()


def test_streaming_weighted_sample_equals_batch(spark, docs, tmp_path):
    """weight_col on the streaming store: the drained store holds EXACTLY
    the whole-corpus weighted bottom-k (E-S priorities are per-key pure
    functions, so the k-vs-k merge closure is the uniform one)."""
    from cassandra_util_spark.operators.sketches import weighted_bottomk_sample
    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.sketches import stream_bottomk_to_store

    d = docs.withColumn(
        "wt", (F.col("n_chars") / F.lit(16)).cast("int") + F.lit(1)
    ).select("doc_id", "wt", "n_chars")
    src = str(tmp_path / "src-w")
    for i in range(3):
        d.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
    store = SnapshotStore(str(tmp_path / "wbk"))
    stream = (
        spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    # seed intentionally omitted: the store must default per mode to the
    # batch sampler's own default ('wbk' for weighted) so default-built
    # stores hash-match default batch runs (ADVICE r9)
    q = stream_bottomk_to_store(
        stream, store, str(tmp_path / "cp-w"), "doc_id", k=64,
        payload=("n_chars",), weight_col="wt",
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in store.read(spark).collect()}
    want = {tuple(r) for r in
            weighted_bottomk_sample(d, "doc_id", "wt", k=64,
                                    payload=("n_chars",), seed="wbk").collect()}
    assert got == want and len(got) == 64


@pytest.mark.slow
def test_streaming_logcost_weighted_store_equals_batch(spark, docs, tmp_path):
    """weight_form='logcost' on the streaming store: realistic
    token-count-scale weights (n_chars·1811 ≈ 10^5-10^6, past the replica
    form's guard) stream into a persisted store that drains to EXACTLY
    the whole-corpus log-cost sample — and the form is part of the pinned
    identity, so continuing the store with the replica form raises
    instead of merging priorities from a different stream."""
    from cassandra_util_spark.operators.sketches import (
        weighted_bottomk_sample_logcost,
    )
    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.sketches import stream_bottomk_to_store

    d = docs.withColumn(
        "wt", F.col("n_chars").cast("bigint") * F.lit(1811)
    ).select("doc_id", "wt", "n_chars")
    src = str(tmp_path / "src-lc")
    for i in range(3):
        d.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
    store = SnapshotStore(str(tmp_path / "lc"))
    stream = (
        spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_bottomk_to_store(
        stream, store, str(tmp_path / "cp-lc"), "doc_id", k=64,
        payload=("n_chars",), weight_col="wt", weight_form="logcost",
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in store.read(spark).collect()}
    want = {tuple(r) for r in
            weighted_bottomk_sample_logcost(
                d, "doc_id", "wt", k=64, payload=("n_chars",), seed="wbk"
            ).collect()}
    assert got == want and len(got) == 64

    # replica-form continuation must fail the identity check (mode differs)
    stream2 = (
        spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q2 = stream_bottomk_to_store(
        stream2, store, str(tmp_path / "cp-lc2"), "doc_id", k=64,
        payload=("n_chars",), weight_col="wt", weight_form="replica",
    )
    with pytest.raises(Exception, match="sampler identity"):
        q2.awaitTermination(120)
        raise AssertionError("replica-form continuation did not fail")

    # invalid forms fail at call time, not mid-stream
    with pytest.raises(ValueError, match="unknown weight_form"):
        stream_bottomk_to_store(
            stream2, store, str(tmp_path / "cp-bad"), "doc_id",
            weight_col="wt", weight_form="bogus",
        )
    with pytest.raises(ValueError, match="requires weight_col"):
        stream_bottomk_to_store(
            stream2, store, str(tmp_path / "cp-bad2"), "doc_id",
            weight_form="logcost",
        )
