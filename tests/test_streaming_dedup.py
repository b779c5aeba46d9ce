"""Streaming LSH signature index — persisted near-dup state with the run
store's replay/LWW discipline.

The batch operators promise that "at warehouse scale the reference side's
signature table is the persisted index an incremental crawl maintains"
(``lsh_dedup_against``); these tests pin the maintained index itself:
bit-identical to batch signatures after a drain, LWW on re-crawled ids,
probe results equal to the recompute-everything path, and layout
validation that fails loudly before a wrongly-keyed store corrupts
anything.
"""

from pyspark.sql import functions as F

from cassandra_util_spark.core.table import TableMeta
from cassandra_util_spark.operators.dedup import (
    lsh_dedup_against,
    lsh_dedup_from_store,
    minhash_signatures,
)
from cassandra_util_spark.sources.runs import RunStore
from cassandra_util_spark.streaming.dedup import stream_lsh_index


def _docs(spark, n=300):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < n)
        .select("doc_id", "text")
    )


def _index_store(tmp_path, name="lsh-runs"):
    return RunStore(str(tmp_path / name), TableMeta(("id",), (), "writetime"))


def _drain(spark, docs, store, tmp_path, splits, cp="cp"):
    src = str(tmp_path / f"src-{cp}")
    for lo, hi in splits:
        docs.filter(F.col("doc_id").between(lo, hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = stream_lsh_index(
        stream, store, str(tmp_path / cp), id_col="doc_id", text_col="text"
    )
    q.awaitTermination(120)


def test_streamed_index_matches_batch_signatures(spark, tmp_path):
    """After draining N micro-batches, the persisted index holds EXACTLY the
    batch-computed signatures — bit-identical arrays, one row per doc (the
    determinism that makes replayed batches safe to no-op)."""
    docs = _docs(spark)
    store = _index_store(tmp_path)
    _drain(spark, docs, store, tmp_path, [(0, 99), (100, 199), (200, 10**9)])
    assert len(store.live_runs()) == 3
    got = {
        r["id"]: tuple(r["sig"]) for r in store.read_merged(spark).collect()
    }
    want = {
        r["id"]: tuple(r["sig"])
        for r in minhash_signatures(docs, "doc_id", "text").collect()
    }
    assert got == want


def test_recrawl_lww_keeps_newest_signature(spark, tmp_path):
    """A re-crawled document (same id, edited text in a LATER batch) must
    read back with the NEW text's signature: writetime = batch id, LWW."""
    docs = _docs(spark, 50)
    edited = docs.withColumn(
        "text",
        F.concat_ws(
            " ",
            F.lit("recrawl"),
            F.col("doc_id").cast("string"),
            F.lit("completely new content tokens alpha beta gamma delta"),
        ),
    )
    store = _index_store(tmp_path)
    src = str(tmp_path / "src")
    docs.coalesce(1).write.mode("append").parquet(src)
    edited.filter(F.col("doc_id") < 10).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = stream_lsh_index(
        stream, store, str(tmp_path / "cp"), id_col="doc_id", text_col="text"
    )
    q.awaitTermination(120)
    merged = {r["id"]: tuple(r["sig"]) for r in store.read_merged(spark).collect()}
    assert len(merged) == 50
    new_sigs = {
        r["id"]: tuple(r["sig"])
        for r in minhash_signatures(
            edited.filter(F.col("doc_id") < 10), "doc_id", "text"
        ).collect()
    }
    old_sigs = {
        r["id"]: tuple(r["sig"])
        for r in minhash_signatures(docs, "doc_id", "text").collect()
    }
    for i in range(10):
        assert merged[i] == new_sigs[i] != old_sigs[i]
    for i in range(10, 50):
        assert merged[i] == old_sigs[i]


def test_probe_from_store_matches_direct_probe(spark, tmp_path):
    """lsh_dedup_from_store over the maintained index == lsh_dedup_against
    with the reference recomputed from content — same survivors, and the
    known planted near-dups are actually dropped (non-vacuous)."""
    all_docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    reference = all_docs.filter(F.col("doc_id") < 250)
    incoming = all_docs.filter(F.col("doc_id") >= 200)
    store = _index_store(tmp_path)
    _drain(spark, reference, store, tmp_path, [(0, 124), (125, 10**9)])
    got = {
        r["doc_id"]
        for r in lsh_dedup_from_store(incoming, store, "doc_id", "text").collect()
    }
    want = {
        r["doc_id"]
        for r in lsh_dedup_against(incoming, reference, "doc_id", "text").collect()
    }
    assert got == want
    dropped = {r["doc_id"] for r in incoming.collect()} - got
    assert dropped, "probe dropped nothing — test corpus has no overlap?"


def test_wrong_store_layout_raises(spark, tmp_path):
    store = RunStore(
        str(tmp_path / "bad"), TableMeta(("doc_id",), (), "writetime")
    )
    (tmp_path / "nosrc").mkdir()
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(
        str(tmp_path / "nosrc")
    )
    try:
        stream_lsh_index(stream, store, str(tmp_path / "cp"), "doc_id", "text")
        raise AssertionError("expected ValueError for wrong index keys")
    except ValueError as e:
        assert "keyed on ('id',)" in str(e)


# ---------------------------------------------------------------------------
# stream_corpus_ingest — the incremental crawl pipeline
# ---------------------------------------------------------------------------

from cassandra_util_spark.streaming.corpus import stream_corpus_ingest
import pytest


def _corpus_stores(tmp_path):
    corpus = RunStore(
        str(tmp_path / "corpus"), TableMeta(("doc_id",), (), "writetime")
    )
    index = RunStore(str(tmp_path / "index"), TableMeta(("id",), (), "writetime"))
    return corpus, index


def _ingest(spark, tmp_path, files, cp="cp", **kw):
    """files: list of row-lists; each list becomes one micro-batch."""
    src = str(tmp_path / "src")
    for rows in files:
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    corpus, index = _corpus_stores(tmp_path)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = stream_corpus_ingest(stream, corpus, index, str(tmp_path / cp), **kw)
    q.awaitTermination(120)
    return corpus, index


LONG_A = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
LONG_B = "an entirely different document about compaction strategies in distributed storage systems"


def test_corpus_ingest_admission_rules(spark, tmp_path):
    """One test, all four rules: the short doc gates out, the within-batch
    exact copy collapses to the lowest id, the cross-batch exact copy
    drops by digest, the cross-batch NEAR-dup (one word changed) drops by
    LSH probe, and the genuinely new doc is admitted."""
    near_a = LONG_A.replace("today", "tonight")
    batches = [
        [(1, LONG_A), (2, LONG_A), (3, "too short")],   # b0: 2 collapses into 1, 3 gates out
        [(4, LONG_A), (5, near_a), (6, LONG_B)],        # b1: 4 exact-drops, 5 near-drops, 6 admits
    ]
    corpus, index = _ingest(spark, tmp_path, batches, min_tokens=5)
    got = {r["doc_id"] for r in corpus.read_merged(spark).collect()}
    assert got == {1, 6}
    idx = {r["id"] for r in index.read_merged(spark).collect()}
    assert idx == {1, 6}  # index rows exactly the admitted docs


def test_corpus_ingest_within_batch_neardups_both_admit(spark, tmp_path):
    """Documented contract: near-dups arriving in the SAME batch both land
    (only exact within-batch copies collapse); a later batch dedups
    against both."""
    near_a = LONG_A.replace("today", "tonight")
    near_a2 = LONG_A.replace("today", "yesterday")
    corpus, _ = _ingest(
        spark, tmp_path, [[(1, LONG_A), (2, near_a)], [(3, near_a2)]], min_tokens=5
    )
    got = {r["doc_id"] for r in corpus.read_merged(spark).collect()}
    assert got == {1, 2}  # 3 is a near-dup of both admitted docs


@pytest.mark.slow
def test_corpus_ingest_replay_is_idempotent(spark, tmp_path):
    """A fresh checkpoint replaying the same batch ids with the SAME txn
    identity skips every batch instead of re-admitting (the mark guard on
    the corpus store)."""
    batches = [[(1, LONG_A)], [(2, LONG_B)]]
    corpus, index = _ingest(
        spark, tmp_path, batches, min_tokens=5, txn_app_id="crawl-1"
    )
    before = sorted(
        tuple(r) for r in corpus.read_merged(spark).collect()
    )
    runs_before = sorted(corpus.live_runs())
    src = str(tmp_path / "src")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_corpus_ingest(
        stream,
        corpus,
        index,
        str(tmp_path / "cp2"),
        min_tokens=5,
        txn_app_id="crawl-1",
    )
    q.awaitTermination(120)
    assert sorted(corpus.live_runs()) == runs_before
    assert sorted(tuple(r) for r in corpus.read_merged(spark).collect()) == before


def test_corpus_ingest_custom_keep_expr(spark, tmp_path):
    corpus, _ = _ingest(
        spark,
        tmp_path,
        [[(1, LONG_A), (7, LONG_B)]],
        keep_expr=lambda b: b.filter(F.col("doc_id") < 5),
    )
    assert {r["doc_id"] for r in corpus.read_merged(spark).collect()} == {1}


def test_corpus_ingest_wrong_index_layout_raises(spark, tmp_path):
    corpus = RunStore(
        str(tmp_path / "c"), TableMeta(("doc_id",), (), "writetime")
    )
    bad_index = RunStore(
        str(tmp_path / "i"), TableMeta(("doc_id",), (), "writetime")
    )
    (tmp_path / "nosrc").mkdir()
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(
        str(tmp_path / "nosrc")
    )
    try:
        stream_corpus_ingest(stream, corpus, bad_index, str(tmp_path / "cp"))
        raise AssertionError("expected ValueError for wrong index keys")
    except ValueError as e:
        assert "keyed on ('id',)" in str(e)


@pytest.mark.slow
def test_corpus_ingest_interleaved_maintenance(spark, tmp_path):
    """maintain_every compacts both stores without changing admissions:
    four batches with maintenance every second batch end at a bounded run
    count and the same admitted set as the unmaintained run."""
    near_a = LONG_A.replace("today", "tonight")
    batches = [
        [(1, LONG_A)],
        [(2, LONG_B), (3, near_a)],          # 3 near-drops vs 1
        [(4, LONG_A + " extra trailing words here")],
        [(5, LONG_B)],                       # exact-drops vs 2
    ]
    corpus, index = _ingest(
        spark, tmp_path, batches, min_tokens=5, maintain_every=2, min_threshold=2
    )
    got = {r["doc_id"] for r in corpus.read_merged(spark).collect()}
    # replay the same stream without maintenance in fresh stores
    corpus2 = RunStore(str(tmp_path / "c2"), TableMeta(("doc_id",), (), "writetime"))
    index2 = RunStore(str(tmp_path / "i2"), TableMeta(("id",), (), "writetime"))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(tmp_path / "src"))
    )
    q = stream_corpus_ingest(
        stream, corpus2, index2, str(tmp_path / "cp-nomaint"), min_tokens=5
    )
    q.awaitTermination(120)
    want = {r["doc_id"] for r in corpus2.read_merged(spark).collect()}
    assert got == want
    assert len(corpus.live_runs()) < len(corpus2.live_runs())
    assert len(index.live_runs()) < len(index2.live_runs())
    idx_rows = {r["id"] for r in index.read_merged(spark).collect()}
    assert idx_rows == got


@pytest.mark.slow
def test_corpus_ingest_crash_replay_after_index_append(spark, tmp_path):
    """The worst crash window: batch N's corpus AND index runs are live but
    the mark was never published.  The replay recomputes the batch against an
    index that already contains the batch's own digests — every doc
    re-reads as 'already admitted', kept is EMPTY, and the replay must
    resolve to live-name no-ops on both stores (append_run checks the
    manifest BEFORE writing, so the empty recompute can never overwrite
    the original data).  Simulated by rewinding the corpus store's mark
    one batch and re-draining under the same txn identity."""
    from cassandra_util_spark.streaming.ingest import applied_batch_hwm

    batches = [[(1, LONG_A)], [(2, LONG_B)]]
    corpus, index = _ingest(
        spark, tmp_path, batches, min_tokens=5, txn_app_id="crawl-x"
    )
    assert applied_batch_hwm(corpus) == 1
    before_corpus = sorted(tuple(r) for r in corpus.read_merged(spark).collect())
    before_index = sorted(tuple(r) for r in index.read_merged(spark).collect())
    # rewind the mark to batch 0: batch 1 is now "in the crash window"
    corpus._publish(mark="crawl-x:0")
    assert applied_batch_hwm(corpus) == 0
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(tmp_path / "src"))
    )
    q = stream_corpus_ingest(
        stream,
        corpus,
        index,
        str(tmp_path / "cp-replay"),
        min_tokens=5,
        txn_app_id="crawl-x",
    )
    q.awaitTermination(120)
    assert sorted(tuple(r) for r in corpus.read_merged(spark).collect()) == before_corpus
    assert sorted(tuple(r) for r in index.read_merged(spark).collect()) == before_index
    assert applied_batch_hwm(corpus) == 1


def test_corpus_ingest_fault_between_appends_restarts_clean(
    spark, tmp_path, monkeypatch
):
    """Replay fault injection at the drain's step boundary between its two
    stores: batch 1 dies after the corpus append and before the index
    append, so the mark has not moved.  A restart from the same checkpoint
    replays batch 1 (the published corpus run no-ops, the index run is
    written) and must end equal to an uninterrupted run: both stores'
    merged views and the mark."""
    from pyspark.errors import StreamingQueryException

    from cassandra_util_spark.streaming.ingest import (
        applied_batch_hwm,
        applied_txn_app_id,
        resolve_txn_app_id,
        run_name_for_batch,
    )

    near_a = LONG_A.replace("today", "tonight")
    batches = [
        [(1, LONG_A)],
        [(2, LONG_B), (3, near_a)],
        [(4, LONG_A), (5, LONG_B + " and one more sentence")],
    ]
    clean_corpus, clean_index = _ingest(
        spark, tmp_path / "clean", batches, min_tokens=5
    )

    corpus, index = _corpus_stores(tmp_path / "crash")
    real_append = index.append_run
    injected = []

    def append_failing_once(df, name=None, **kw):
        if name == run_name_for_batch(1) and not injected:
            injected.append(name)
            raise RuntimeError("injected fault before the index append")
        return real_append(df, name=name, **kw)

    monkeypatch.setattr(index, "append_run", append_failing_once)
    cp = str(tmp_path / "crash" / "cp")

    def start():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(tmp_path / "clean" / "src"))
        )
        return stream_corpus_ingest(stream, corpus, index, cp, min_tokens=5)

    with pytest.raises(StreamingQueryException, match="injected fault"):
        start().awaitTermination(120)
        raise AssertionError("the injected fault did not stop the drain")
    assert run_name_for_batch(1) in corpus.live_runs()
    assert run_name_for_batch(1) not in index.live_runs()
    assert applied_batch_hwm(corpus) == 0

    start().awaitTermination(120)

    def view(store):
        return sorted(tuple(r) for r in store.read_merged(spark).collect())

    assert view(corpus) == view(clean_corpus)
    assert view(index) == view(clean_index)
    assert applied_batch_hwm(corpus) == applied_batch_hwm(clean_corpus) == 2
    assert applied_txn_app_id(corpus) == resolve_txn_app_id(cp, "")
