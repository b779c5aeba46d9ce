"""Streaming tokenization (streaming/corpus.py stream_encode): the streamed
store must converge to the batch encode regardless of batch boundaries —
including when later shards carry words (and characters) the frozen model
never saw — plus the UNK contract of bpe_encode_ids."""

from __future__ import annotations

import os
import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cassandra_util_spark.core.table import TableMeta
from cassandra_util_spark.operators.bpe import (
    bpe_encode_ids,
    bpe_train,
    bpe_vocab,
    segment_words,
)
from cassandra_util_spark.sources.runs import RunStore
from cassandra_util_spark.streaming.corpus import stream_encode

CORPUS = [
    (0, "low low low lower lowest"),
    (1, "new newer newest newest"),
    (2, "aaa aaa aa banana bananas"),
    (3, "low new aaa banana"),
    (4, ""),                      # empty stream
    (5, "lowest bananafana zzz"),  # OOV words for a batch-0-trained model
]


@pytest.fixture(scope="module")
def frozen(spark):
    """Model trained on SHARD 0 ONLY (doc_id % 3 == 0) — shards 1/2 carry
    out-of-vocabulary words, including the unseen character 'z'."""
    d = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    boot = d.filter(F.col("doc_id") % 3 == 0)
    merges, words = bpe_train(boot, "text", num_merges=6)
    return d, merges, words, bpe_vocab(spark, words, merges)


def _batch_reference(spark, d, merges, words, vocab):
    """One batch encode under the SAME frozen model: trained table plus the
    in-order merge replay over every word the corpus holds."""
    from cassandra_util_spark.operators.text import _norm_tokens

    all_words = d.select(
        F.explode(_norm_tokens(F.col("text"))).alias("word")
    ).distinct()
    oov = all_words.join(words.select("word"), "word", "left_anti")
    seg = words.select("word", "syms").unionByName(segment_words(oov, merges))
    return bpe_encode_ids(d, "doc_id", "text", seg, vocab)


@pytest.mark.slow
def test_streamed_store_equals_batch_encode_with_oov(spark, frozen, tmp_path_factory):
    d, merges, words, vocab = frozen
    src = str(tmp_path_factory.mktemp("enc-src-"))
    for k in range(3):
        d.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    store = RunStore(
        str(tmp_path_factory.mktemp("enc-store-")),
        TableMeta(("doc_id",), (), "writetime"),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = stream_encode(
        stream, store, str(tmp_path_factory.mktemp("enc-cp-")),
        words, vocab, merges=merges,
    )
    q.awaitTermination(300)
    got = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"])
        for r in store.read_merged(spark)
        .select("doc_id", "token_ids", "n_tokens")
        .collect()
    }
    want = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"])
        for r in _batch_reference(spark, d, merges, words, vocab).collect()
    }
    assert got == want
    # the unseen character 'z' must surface as UNK (-1), not vanish:
    # doc 5 is 'lowest bananafana zzz' -> its stream ends with z-derived ids
    ids5 = got[5][0]
    assert -1 in ids5
    assert got[4] == ([], 0)


def test_unk_never_shortens_the_stream(spark, frozen):
    d, merges, words, vocab = frozen
    enc = _batch_reference(spark, d, merges, words, vocab)
    # every document's id stream length equals its symbol-count under the
    # same segmentation — UNK substitution preserves positions
    from cassandra_util_spark.operators.text import _norm_tokens

    all_words = d.select(
        F.explode(_norm_tokens(F.col("text"))).alias("word")
    ).distinct()
    oov = all_words.join(words.select("word"), "word", "left_anti")
    seg = words.select("word", "syms").unionByName(segment_words(oov, merges))
    n_syms = (
        d.select("doc_id", F.explode(_norm_tokens(F.col("text"))).alias("word"))
        .join(seg, "word")
        .groupBy("doc_id")
        .agg(F.sum(F.size("syms")).alias("n"))
    )
    want = {r["doc_id"]: r["n"] for r in n_syms.collect()}
    got = {r["doc_id"]: r["n_tokens"] for r in enc.collect()}
    for i, n in want.items():
        assert got[i] == n


def test_store_key_contract(spark, frozen, tmp_path_factory):
    d, merges, words, vocab = frozen
    bad = RunStore(
        str(tmp_path_factory.mktemp("enc-bad-")),
        TableMeta(("other",), (), "writetime"),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path_factory.mktemp("enc-empty-")))
    )
    with pytest.raises(ValueError, match="encode stores are keyed"):
        stream_encode(
            stream, bad, str(tmp_path_factory.mktemp("cp-")), words, vocab, merges=merges
        )


def test_intra_batch_duplicate_delivery(spark, frozen, tmp_path_factory):
    # two deliveries of the same doc inside ONE micro-batch must collapse
    # to a single clean stream (review r13: writetime is the batch id, so
    # without the per-id collapse the per-doc collect interleaves the two
    # copies into one garbled stream and LWW has no tie-break).  Doc 0's
    # words are all in the trained table, so no merges are needed and the
    # driver path applies
    d, merges, words, vocab = frozen
    src = str(tmp_path_factory.mktemp("encdup-src-"))
    one = d.filter(F.col("doc_id") == 0)
    # three deliveries, two of them equal: the greatest text wins
    other = one.withColumn("text", F.lit("low new"))
    one.unionAll(other).unionAll(one).coalesce(1).write.mode("append").parquet(src)
    store = RunStore(
        str(tmp_path_factory.mktemp("encdup-store-")),
        TableMeta(("doc_id",), (), "writetime"),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_encode(
        stream, store, str(tmp_path_factory.mktemp("encdup-cp-")), words, vocab,
    )
    q.awaitTermination(300)
    rows = store.read_merged(spark).collect()
    assert len(rows) == 1
    [want] = bpe_encode_ids(other, "doc_id", "text", words, vocab).collect()
    assert list(rows[0]["token_ids"]) == list(want["token_ids"])


def test_streamed_byte_fallback_equals_batch_encode(spark, frozen, tmp_path_factory):
    """r16 byte fallback, streaming half: with the frozen word table
    alone (no merges) and oov='bytes', OOV words in later shards —
    including the unseen character 'z' — encode as reserved byte-token
    ids instead of killing the ingest, and the streamed store equals the
    one-batch byte-fallback encode regardless of batch boundaries."""
    d, merges, words, _ = frozen
    fb_vocab = bpe_vocab(spark, words, merges, byte_fallback=True)
    src = str(tmp_path_factory.mktemp("enc-fb-src-"))
    for k in range(3):
        d.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    store = RunStore(
        str(tmp_path_factory.mktemp("enc-fb-store-")),
        TableMeta(("doc_id",), (), "writetime"),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = stream_encode(
        stream, store, str(tmp_path_factory.mktemp("enc-fb-cp-")),
        words, fb_vocab, oov="bytes",
    )
    assert q.awaitTermination(300)
    got = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"])
        for r in store.read_merged(spark)
        .select("doc_id", "token_ids", "n_tokens")
        .collect()
    }
    want = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"])
        for r in bpe_encode_ids(
            d, "doc_id", "text", words, fb_vocab, oov="bytes"
        ).collect()
    }
    assert got == want
    # no UNKs anywhere: every OOV word went through the byte block
    byte_base = min(
        r["id"] for r in fb_vocab.filter(F.col("kind") == "byte").collect()
    )
    assert all(t >= 0 for ids, _ in got.values() for t in ids)
    assert any(t >= byte_base for t in got[5][0])


def test_stream_encode_rejects_bytes_with_merges(spark, frozen, tmp_path_factory):
    d, merges, words, _ = frozen
    fb_vocab = bpe_vocab(spark, words, merges, byte_fallback=True)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .parquet(str(tmp_path_factory.mktemp("enc-rej-")))
    )
    store = RunStore(
        str(tmp_path_factory.mktemp("enc-rej-store-")),
        TableMeta(("doc_id",), (), "writetime"),
    )
    with pytest.raises(ValueError, match="ambiguous"):
        stream_encode(
            stream, store, str(tmp_path_factory.mktemp("enc-rej-cp-")),
            words, fb_vocab, merges=merges, oov="bytes",
        )


def test_stream_encode_fail_fast_validation(spark, frozen, tmp_path_factory):
    """A misconfigured stream must refuse at SETUP, not start
    successfully and die later inside the first foreachBatch as a
    wrapped StreamingQueryException (ADVICE r16): an unknown oov value
    and a vocab built without byte_fallback=True under oov='bytes' both
    raise before stream_to_runstore starts."""
    d, merges, words, vocab = frozen  # vocab WITHOUT the byte block
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .parquet(str(tmp_path_factory.mktemp("enc-ff-")))
    )
    store = RunStore(
        str(tmp_path_factory.mktemp("enc-ff-store-")),
        TableMeta(("doc_id",), (), "writetime"),
    )
    with pytest.raises(ValueError, match="oov must be"):
        stream_encode(
            stream, store, str(tmp_path_factory.mktemp("enc-ff-cp-")),
            words, vocab, oov="drop",
        )
    with pytest.raises(ValueError, match="byte-fallback vocabulary"):
        stream_encode(
            stream, store, str(tmp_path_factory.mktemp("enc-ff-cp2-")),
            words, vocab, oov="bytes",
        )


@pytest.mark.parametrize(
    "drain_test",
    [test_intra_batch_duplicate_delivery, test_streamed_byte_fallback_equals_batch_encode],
    ids=lambda t: t.__name__,
)
def test_drain_on_the_spark_path(spark, frozen, tmp_path_factory, monkeypatch, drain_test):
    """The drain tests above take the driver path (their batches are
    small and no merges are given); each runs here again with every batch
    on the Spark path."""
    from cassandra_util_spark.sources import runs as runs_module

    monkeypatch.setattr(runs_module, "_DRIVER_READ_BYTES", -1)
    drain_test(spark, frozen, tmp_path_factory)


def _shards(spark, d, tmp_path_factory, name):
    """``d`` as three one-file shards (doc_id % 3) with ascending mtimes,
    so a file stream delivers them as batches 0, 1, 2."""
    src = str(tmp_path_factory.mktemp(name))
    now = time.time()
    for k in range(3):
        sub = os.path.join(src, f"shard-{k:02d}")
        d.filter(F.col("doc_id") % 3 == k).coalesce(1).write.parquet(sub)
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + k, now + k))
    return src


def _encode(spark, src, root, cp, words, vocab, shards="shard-*", **kw):
    store = RunStore(root, TableMeta(("doc_id",), (), "writetime"))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(os.path.join(src, shards))
    )
    return store, stream_encode(stream, store, cp, words, vocab, **kw)


@pytest.fixture(scope="module")
def fb_vocab(spark, frozen):
    _, merges, words, _ = frozen
    return bpe_vocab(spark, words, merges, byte_fallback=True)


def test_both_paths_append_the_same_runs(
    spark, frozen, fb_vocab, tmp_path_factory, monkeypatch, runs_of
):
    """The driver path and the Spark path append the same runs: the same
    names, the same recorded schema and the same rows, so a store never
    shows which path a batch took."""
    from cassandra_util_spark.sources import runs as runs_module

    d, _, words, _ = frozen
    src = _shards(spark, d, tmp_path_factory, "enc-paths-src-")
    got = {}
    for path in ("driver", "spark"):
        if path == "spark":
            monkeypatch.setattr(runs_module, "_DRIVER_READ_BYTES", -1)
        store, q = _encode(
            spark, src, str(tmp_path_factory.mktemp(f"enc-{path}-")),
            str(tmp_path_factory.mktemp(f"enc-{path}-cp-")), words, fb_vocab,
            oov="bytes",
        )
        assert q.awaitTermination(300)
        got[path] = runs_of(store)
    assert len(got["driver"]) == 3
    assert got["driver"] == got["spark"]


def test_driver_path_jobs_and_compiles(
    spark, frozen, fb_vocab, tmp_path_factory, stream_jobs, count_compiles
):
    """On the driver path each trigger runs two Spark jobs, the batch's
    collect and the run's write.  A third trigger, after a restart of the
    same checkpoint, compiles no new class, its set-up included: no
    per-batch value (the Spark path's ``F.lit(batch_id)`` writetime) is
    inlined into generated code."""
    d, _, words, _ = frozen
    src = _shards(spark, d, tmp_path_factory, "enc-jobs-src-")
    live = os.path.join(src, "live")
    os.makedirs(live)
    root = str(tmp_path_factory.mktemp("enc-jobs-"))
    cp = str(tmp_path_factory.mktemp("enc-jobs-cp-"))

    def drain():
        store, q = _encode(spark, live, root, cp, words, fb_vocab, oov="bytes")
        assert q.awaitTermination(300)
        return store, q

    for k in range(2):
        os.symlink(os.path.join(src, f"shard-{k:02d}"), os.path.join(live, f"shard-{k:02d}"))
    _, q = drain()
    assert stream_jobs(q) == 2 * 2
    os.symlink(os.path.join(src, "shard-02"), os.path.join(live, "shard-02"))
    (store, q), compiles = count_compiles(drain)
    assert len(store.live_runs()) == 3
    assert stream_jobs(q) == 2
    assert compiles == 0


def test_fault_in_transform_restarts_clean(
    spark, frozen, fb_vocab, tmp_path_factory, fail_once, drain_path
):
    """A fault inside batch 1's transform, on each path, stops the drain
    with batch 1 unapplied; a restart from the same checkpoint replays it,
    and the store's view and mark equal an uninterrupted run's."""
    from pyspark.errors import StreamingQueryException

    from cassandra_util_spark.operators import bpe
    from cassandra_util_spark.streaming.ingest import applied_batch_hwm

    d, _, words, _ = frozen
    src = _shards(spark, d, tmp_path_factory, "enc-fault-src-")

    def drain(name):
        root = str(tmp_path_factory.mktemp(f"enc-{name}-"))
        cp = str(tmp_path_factory.mktemp(f"enc-{name}-cp-"))
        return lambda: _encode(spark, src, root, cp, words, fb_vocab,
                               oov="bytes", txn_app_id="enc-fault")

    clean, q = drain("clean")()
    assert q.awaitTermination(300)
    transform = "bpe_encode_ids_table" if drain_path == "driver" else "bpe_encode_ids"
    calls = fail_once(bpe, transform, at_call=2)
    crashing = drain("crash")
    store, q = crashing()
    with pytest.raises(StreamingQueryException, match="injected fault"):
        q.awaitTermination(300)
        raise AssertionError("the injected fault did not stop the drain")
    assert len(calls) == 2 and applied_batch_hwm(store) == 0
    assert crashing()[1].awaitTermination(300)
    assert applied_batch_hwm(store) == applied_batch_hwm(clean) == 2
    assert sorted(store.read_merged(spark).collect()) == sorted(
        clean.read_merged(spark).collect()
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 4),
            st.lists(
                st.sampled_from(["low", "new", "aaa", "zzz", "Lowq", "9", "é日", "a-b"]),
                max_size=5,
            ).map(" ".join),
        ),
        max_size=8,
    ),
    oov=st.sampled_from(["bytes", "raise"]),
)
def test_encode_table_equals_spark_encode(spark, frozen, fb_vocab, docs, oov):
    """The driver path's transform equals the Spark path's on random
    batches: duplicate ids (the greatest text wins), empty documents,
    words outside the frozen table (byte fallback, or the same
    out-of-vocabulary error), non-ASCII text and a vocabulary missing a
    symbol (``unk_id``)."""
    from cassandra_util_spark.operators.bpe import (
        bpe_encode_ids_table,
        byte_block_bounds,
        segment_ids,
    )
    from cassandra_util_spark.operators.text import _norm_tokens
    from cassandra_util_spark.streaming.corpus import _max_per_id

    _, _, words, _ = frozen
    vocab = fb_vocab.filter(F.col("sym") != "w")  # 'w' maps to unk_id
    batch = spark.createDataFrame(docs, "doc_id bigint, text string")
    deduped = batch.groupBy("doc_id").agg(F.max("text").alias("text"))
    table = batch.select(
        "doc_id", "text", _norm_tokens(F.col("text")).alias("w")
    ).toArrow()
    seg = segment_ids(words, vocab, unk_id=-7).toArrow()
    bounds = byte_block_bounds(vocab)
    try:
        want = sorted(
            (r["doc_id"], list(r["token_ids"]), r["n_tokens"])
            for r in bpe_encode_ids(
                deduped, "doc_id", "text", words, vocab, unk_id=-7, oov=oov,
                byte_bounds=bounds,
            ).collect()
        )
    except Exception as e:  # the Spark encoder's out-of-vocabulary error
        assert oov == "raise" and "out-of-vocabulary word" in str(e)
        with pytest.raises(ValueError, match="out-of-vocabulary word '[a-z0-9]+' has no"):
            bpe_encode_ids_table(
                _max_per_id(table, "doc_id", "text"), "doc_id", "w", seg, oov=oov
            )
        return
    got = bpe_encode_ids_table(
        _max_per_id(table, "doc_id", "text"), "doc_id", "w", seg, oov=oov,
        byte_bounds=bounds,
    )
    assert sorted(
        (r["doc_id"], r["token_ids"], r["n_tokens"]) for r in got.to_pylist()
    ) == want


def test_encode_table_byte_fallback_of_multibyte_words(spark, fb_vocab):
    """Words outside the map encode as ``byte_fallback_ids`` does, byte
    by byte of their UTF-8 form, multi-byte characters included (the
    normalizer keeps only ASCII, so these words reach the encoder only
    from a caller's own word column)."""
    import pyarrow as pa

    from cassandra_util_spark.operators.bpe import (
        bpe_encode_ids_table,
        byte_block_bounds,
        byte_fallback_ids,
    )

    base, end = byte_block_bounds(fb_vocab)
    words = ["é", "日本", "a😀b", "x"]
    docs = pa.table({"doc_id": [0, 1], "w": [words[:2], words[2:]]})
    seg = pa.table({"word": pa.array([], pa.string()),
                    "syms": pa.array([], pa.list_(pa.int32()))})
    got = bpe_encode_ids_table(docs, "doc_id", "w", seg, oov="bytes",
                               byte_bounds=(base, end)).to_pylist()
    per_word = {
        r["w"]: list(r["ids"])
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", byte_fallback_ids(F.col("w"), base, end).alias("ids"))
        .collect()
    }
    assert [r["token_ids"] for r in got] == [
        per_word["é"] + per_word["日本"], per_word["a😀b"] + per_word["x"]]
    assert [r["n_tokens"] for r in got] == [len(r["token_ids"]) for r in got]
