"""corpus_stream: three backlog drains in a row over K seeded shards.

One cycle: ``stream_corpus_ingest`` admits K document shards (one file per
trigger) into a corpus store and its index; the admitted documents of each
trigger then drain through ``stream_encode`` under a tokenizer frozen in
set-up, and the encoded documents through ``stream_windows``.  The cost is
the fixed per-trigger job cost plus an index that grows with each trigger,
and the run store sees many small appends instead of lsm_retention's large
appends and merges.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa

import gen
from benchlib import median, quantile, tree_bytes, write_amp
from harness import drain, file_stream, release, restage_runs, write_parquet

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
# the repo's corpus_ingest_streaming query drains sf0.1 ``documents``
# (5000 texts) in three triggers, and its tokenizer queries train 10 merges
K_SHARDS = 3
DOCS_PER_SHARD = 1667
# the untimed warm-up drains two small shards: the first ingest trigger
# finds an empty index, the second takes the anti-join and LSH probe path
WARM_SHARDS = 2
WARM_DOCS_PER_SHARD = 200
BOOTSTRAP_DOCS = 120
NUM_MERGES = 10
CAPACITY = 256
MIN_TOKENS = 30


class CorpusStream:
    name = "corpus_stream"

    def __init__(self, spark, seed: int, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self._one_shot: dict = {}  # admitted documents -> one-shot windows

    def setup(self, d: str) -> None:
        """Stage the shards and train the tokenizer the encode drain
        freezes (byte fallback, so unseen words never fail a trigger)."""
        from cassandra_util_spark.operators.bpe import bpe_train, bpe_vocab

        if hasattr(self, "vocab"):  # an earlier set-up's tokenizer
            release(self.words)
            release(self.vocab)
        src = os.path.join(d, "src")
        os.makedirs(src, exist_ok=True)
        now = time.time()
        self.src = src
        self.input_bytes = 0
        self.input_rows = 0
        for i, docs in enumerate(gen.shards(self.seed, K_SHARDS, DOCS_PER_SHARD)):
            path = os.path.join(src, f"shard-{i:03d}.parquet")
            self.input_bytes += write_parquet(docs, DOC_SCHEMA, path, mtime=now - 1000 + i)
            self.input_rows += len(docs)
        self.warm_src = os.path.join(d, "warm-src")
        os.makedirs(self.warm_src, exist_ok=True)
        for i, docs in enumerate(gen.shards(self.seed + 3_333, WARM_SHARDS, WARM_DOCS_PER_SHARD)):
            write_parquet(docs, DOC_SCHEMA, os.path.join(self.warm_src, f"shard-{i:03d}.parquet"),
                          mtime=now - 1000 + i)
        boot = gen.documents(self.seed + 7_777, BOOTSTRAP_DOCS, vocab_seed=self.seed)
        boot_path = os.path.join(d, "bootstrap.parquet")
        write_parquet(boot, DOC_SCHEMA, boot_path)
        with self.tracer.span("operators.bpe_train") as sp:
            merges, words = bpe_train(self.spark.read.parquet(boot_path), "text", num_merges=NUM_MERGES)
            self.words = words.select("word", "syms").localCheckpoint()
        if sp is not None:
            sp["merges"] = len(merges)
        self.vocab = bpe_vocab(self.spark, self.words, merges, byte_fallback=True).localCheckpoint()

    def inputs(self) -> dict:
        return {"rows": self.input_rows, "bytes": self.input_bytes, "shards": K_SHARDS}

    def cycle(self, root: str, warm: bool = False) -> dict:
        from cassandra_util_spark.core.table import TableMeta
        from cassandra_util_spark.sources.runs import RunStore
        from cassandra_util_spark.streaming.corpus import (
            stream_corpus_ingest,
            stream_encode,
            stream_windows,
        )

        spark, tr = self.spark, self.tracer
        clock = time.perf_counter
        t_begin = clock()
        by_id = lambda col: TableMeta((col,), (), "writetime")  # noqa: E731
        corpus = RunStore(os.path.join(root, "corpus"), by_id("doc_id"))
        index = RunStore(os.path.join(root, "index"), by_id("id"))
        enc = RunStore(os.path.join(root, "enc"), by_id("doc_id"))
        win = RunStore(os.path.join(root, "win"), by_id("bin"))
        cp = lambda n: os.path.join(root, "cp-" + n)  # noqa: E731
        progress = {}
        drain_s = 0.0

        t = clock()
        with tr.span("streaming.ingest"):
            progress["ingest"] = drain(stream_corpus_ingest(
                file_stream(spark, "doc_id bigint, text string", self.warm_src if warm else self.src),
                corpus, index, cp("ingest"), min_tokens=MIN_TOKENS,
            ))
        drain_s += clock() - t
        mtime0 = time.time() - 1000
        enc_src = os.path.join(root, "enc-src")
        restage_runs(corpus, ["doc_id", "text"], enc_src, mtime0)
        t = clock()
        with tr.span("streaming.encode"):
            progress["encode"] = drain(stream_encode(
                file_stream(spark, "doc_id bigint, text string", enc_src),
                enc, cp("encode"), self.words, self.vocab, oov="bytes",
            ))
        drain_s += clock() - t
        win_src = os.path.join(root, "win-src")
        restage_runs(enc, ["doc_id", "token_ids"], win_src, mtime0)
        t = clock()
        with tr.span("streaming.windows"):
            progress["windows"] = drain(stream_windows(
                file_stream(spark, "doc_id bigint, token_ids array<int>", win_src),
                win, cp("windows"), capacity=CAPACITY,
            ))
        drain_s += clock() - t
        wall = clock() - t_begin

        trig = {n: {p["batchId"]: p["durationMs"] for p in ps} for n, ps in progress.items()}
        shard_ms = [
            sum(trig[n].get(b, {}).get("triggerExecution", 0) for n in trig)
            for b in sorted(trig["ingest"])
        ]
        # trigger k's digest anti-join reads every index row admitted before it
        stats = corpus.run_stats()
        admitted = [stats[r]["rows"] for r in corpus.live_runs()]
        history = [sum(admitted[:k]) for k in range(len(admitted))]
        return {
            "wall_s": wall, "drain_s": drain_s, "shard_ms": shard_ms, "trig": trig,
            "ops": sum(len(t) for t in trig.values()),
            "index_rows_per_trigger": sum(history) / len(history),
            "admitted_frac": sum(admitted) / self.input_rows,
            "corpus": corpus, "index": index, "enc": enc, "win": win, "root": root,
        }

    def check(self, res: dict) -> list[str]:
        """The window store's merged view equals one-shot packing of the
        admitted corpus encoded in one batch, and admitted digests are
        unique.  The one-shot windows are computed once per admitted set
        and compared as multisets on the driver (the data is small)."""
        from collections import Counter

        from pyspark.sql import functions as F

        from cassandra_util_spark.operators.bpe import bpe_encode_ids
        from cassandra_util_spark.operators.packing import materialize_packed_windows

        spark, errs = self.spark, []
        cols = ["bin", "n_docs", "n_tokens", "token_ids"]

        def windows(df) -> Counter:
            return Counter((r[0], r[1], r[2], tuple(r[3])) for r in df.select(*cols).collect())

        admitted = res["corpus"].read_merged(spark).select("doc_id", "text")
        docs = tuple(sorted(tuple(r) for r in admitted.collect()))
        if not docs:
            errs.append("no document was admitted")
        if docs not in self._one_shot:
            ids = bpe_encode_ids(admitted, "doc_id", "text", self.words, self.vocab, oov="bytes")
            self._one_shot[docs] = windows(
                materialize_packed_windows(ids, "doc_id", "token_ids", CAPACITY, distributed=True))
        want = self._one_shot[docs]
        got = windows(res["win"].read_merged(spark))
        extra, missing = sum((got - want).values()), sum((want - got).values())
        if extra or missing:
            errs.append(f"window store differs from one-shot packing: {extra} extra, {missing} missing")
        d = res["index"].read_merged(spark).agg(
            F.count("digest").alias("n"), F.countDistinct("digest").alias("u")
        ).first()
        if d["n"] != d["u"] or d["n"] != len(docs):
            errs.append(f"index holds {d['n']} digests, {d['u']} distinct, {len(docs)} admitted")
        return errs

    def end_to_end(self, cycles: list[dict]) -> tuple[dict, dict]:
        shard = [x for c in cycles for x in c["shard_ms"]]
        stores = ("corpus", "index", "enc", "win")
        written = [sum(tree_bytes(c[s].root) for s in stores) for c in cycles]
        e2e = {"write_amp": median(write_amp(w, self.input_bytes) for w in written)}
        extra = {
            "ingest_rows_per_s": (median(self.input_rows / c["drain_s"] for c in cycles), "rows/s"),
            "shard_p50_ms": (quantile(shard, 0.5), "ms"),
            "shard_samples": (len(shard), "count"),
            **{
                f"{d}_trigger_p50_ms": (
                    quantile([t["triggerExecution"] for c in cycles for t in c["trig"][d].values()], 0.5),
                    "ms",
                )
                for d in ("ingest", "encode", "windows")
            },
        }
        return e2e, extra
