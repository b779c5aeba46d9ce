"""Streaming tokenization (streaming/corpus.py stream_encode): the streamed
store must converge to the batch encode regardless of batch boundaries —
including when later shards carry words (and characters) the frozen model
never saw — plus the UNK contract of bpe_encode_ids."""

from __future__ import annotations


import pytest
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
    # copies into one garbled stream and LWW has no tie-break)
    d, merges, words, vocab = frozen
    src = str(tmp_path_factory.mktemp("encdup-src-"))
    one = d.filter(F.col("doc_id") == 0)
    one.unionAll(one).coalesce(1).write.mode("append").parquet(src)
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
        stream, store, str(tmp_path_factory.mktemp("encdup-cp-")),
        words, vocab, merges=merges,
    )
    q.awaitTermination(300)
    rows = store.read_merged(spark).collect()
    assert len(rows) == 1
    [want] = bpe_encode_ids(one, "doc_id", "text", words, vocab).collect()
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
