"""Persisted tokenizer artifact (sources/tokenizer.py): the write/read
round trip must hand back the exact in-memory shapes, the meta contract
must fail loudly on every inconsistency, and the frequency cap must obey
the byte-fallback degradation contract."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cassandra_util_spark.operators.bpe import bpe_train, bpe_vocab
from cassandra_util_spark.sources.tokenizer import (
    read_tokenizer,
    write_tokenizer,
)

CORPUS = [
    (0, "low low low lower lowest"),
    (1, "new newer newest newest"),
    (2, "aaa aaa aa banana bananas"),
    (3, "low new aaa banana"),
]


@pytest.fixture(scope="module")
def trained(spark):
    d = spark.createDataFrame(CORPUS, "doc_id int, text string")
    return bpe_train(d, "text", num_merges=6)


def test_roundtrip_hands_back_the_in_memory_shapes(spark, trained, tmp_path_factory):
    merges, words = trained
    path = str(tmp_path_factory.mktemp("tok-")) + "/bpe"
    write_tokenizer(spark, path, words, merges, byte_fallback=True)
    r_merges, r_words, r_vocab, meta = read_tokenizer(spark, path)
    assert r_merges == merges
    assert meta == {
        "format": 1, "num_merges": len(merges),
        "byte_fallback": True, "capped_words": None,
    }
    assert sorted(
        (r["word"], r["cnt"], list(r["syms"])) for r in r_words.collect()
    ) == sorted(
        (r["word"], r["cnt"], list(r["syms"])) for r in words.collect()
    )
    want_vocab = {
        (r["id"], r["sym"], r["kind"])
        for r in bpe_vocab(spark, words, merges, byte_fallback=True).collect()
    }
    assert {
        (r["id"], r["sym"], r["kind"]) for r in r_vocab.collect()
    } == want_vocab


def test_capped_write_keeps_top_n_and_requires_byte_fallback(spark, trained, tmp_path_factory):
    merges, words = trained
    path = str(tmp_path_factory.mktemp("tok-cap-")) + "/bpe"
    write_tokenizer(
        spark, path, words, merges, byte_fallback=True, capped_words=3
    )
    _, r_words, r_vocab, meta = read_tokenizer(spark, path)
    assert meta["capped_words"] == 3
    got = {r["word"] for r in r_words.collect()}
    want = {
        r["word"]
        for r in words.orderBy(F.col("cnt").desc(), "word").limit(3).collect()
    }
    assert got == want
    # the vocab still covers the FULL trained alphabet (base syms come
    # from the uncapped table) plus the byte block
    assert r_vocab.filter(F.col("kind") == "byte").count() == 256
    with pytest.raises(ValueError, match="byte_fallback=True"):
        write_tokenizer(
            spark, str(tmp_path_factory.mktemp("tok-bad-")) + "/bpe",
            words, merges, capped_words=3,
        )
    with pytest.raises(ValueError, match="capped_words must be positive"):
        write_tokenizer(
            spark, str(tmp_path_factory.mktemp("tok-bad-")) + "/bpe",
            words, merges, byte_fallback=True, capped_words=0,
        )


def test_meta_contract_fails_loudly(spark, trained, tmp_path_factory):
    merges, words = trained
    with pytest.raises(ValueError, match="not a tokenizer artifact"):
        read_tokenizer(spark, str(tmp_path_factory.mktemp("tok-empty-")))
    path = str(tmp_path_factory.mktemp("tok-v-")) + "/bpe"
    write_tokenizer(spark, path, words, merges, byte_fallback=True)
    meta_path = os.path.join(path, "_META.json")
    meta = json.load(open(meta_path))
    # wrong format version
    json.dump({**meta, "format": 99}, open(meta_path, "w"))
    with pytest.raises(ValueError, match="unsupported tokenizer format"):
        read_tokenizer(spark, path)
    # merge-count mismatch
    json.dump({**meta, "num_merges": 999}, open(meta_path, "w"))
    with pytest.raises(ValueError, match="inconsistent"):
        read_tokenizer(spark, path)
    # truncated meta: num_merges missing entirely (review r16 — must be
    # the named ValueError, not a bare KeyError)
    json.dump({k: v for k, v in meta.items() if k != "num_merges"},
              open(meta_path, "w"))
    with pytest.raises(ValueError, match="truncated _META.json"):
        read_tokenizer(spark, path)
    json.dump(meta, open(meta_path, "w"))
    # byte_fallback claimed but block missing
    path2 = str(tmp_path_factory.mktemp("tok-nb-")) + "/bpe"
    write_tokenizer(spark, path2, words, merges, byte_fallback=False)
    m2 = json.load(open(os.path.join(path2, "_META.json")))
    json.dump({**m2, "byte_fallback": True},
              open(os.path.join(path2, "_META.json"), "w"))
    with pytest.raises(ValueError, match="256 byte rows"):
        read_tokenizer(spark, path2)


def test_schemed_path_routes_meta_through_hadoop_fs(spark, trained, tmp_path_factory):
    """A URI-scheme'd artifact path (file:// standing in for s3a://,
    hdfs://) routes _META.json through the Hadoop FileSystem API, so
    the meta lands on the SAME filesystem as the parquet tables and
    reads back from it — the r16 ADVICE portability contract.  Plain
    local paths keep direct open() (pinned by the other tests: no .crc
    sidecars, hand-editable meta)."""
    merges, words = trained
    local = str(tmp_path_factory.mktemp("tok-fs-")) + "/bpe"
    path = "file://" + local
    write_tokenizer(spark, path, words, merges, byte_fallback=True)
    assert os.path.exists(os.path.join(local, "_META.json"))
    m2, w2, v2, meta = read_tokenizer(spark, path)
    assert meta["byte_fallback"] is True
    assert m2 == merges
    assert v2.count() > 256  # byte block + learned vocab, same tables
