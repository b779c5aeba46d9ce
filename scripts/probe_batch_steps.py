"""Probe: WHERE the per-trigger jobs of the streaming drains come from.

probe_trigger_jobs.py counts the drain's total jobs via the runId job
group; this splits that count by STEP.  Two modes:

- ``noop``: a foreachBatch that does nothing — whatever jobs remain are
  the Structured-Streaming machinery itself (offset log, file listing,
  the batch-construction job), the floor no batch-body change can cut.
- ``windows``: a faithful step-by-step replica of ``stream_windows``'s
  ``window_batch`` + ``stream_to_runstore``'s append, each step wrapped
  in its own job group so the per-step job counts are exact.

Usage: python scripts/probe_batch_steps.py [noop|windows|ingest]
"""
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cassandra_util_spark.core.session import get_spark

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
which = sys.argv[1] if len(sys.argv) > 1 else "noop"
spark = get_spark("probe-batch-steps")
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
spark.read.parquet(f"{sf_dir}/documents.parquet").count()

import cassandra_util_spark.entry_queries as eq
from cassandra_util_spark.core.table import TableMeta
from cassandra_util_spark.operators.bpe import bpe_encode_ids, bpe_train, bpe_vocab
from cassandra_util_spark.sources.runs import RunStore

STEPS: dict[str, int] = {}


class step:
    """Job-group scope: counts the jobs submitted inside the block."""

    def __init__(self, name: str):
        self.name = name

    def __enter__(self):
        self.t0 = time.monotonic()
        sc.setJobGroup(f"step:{self.name}", self.name)

    def __exit__(self, *exc):
        n = len(sc.statusTracker().getJobIdsForGroup(f"step:{self.name}"))
        dt = time.monotonic() - self.t0
        prev_n, prev_t = STEPS.get(self.name, (0, 0.0)) or (0, 0.0)
        STEPS[self.name] = (n, prev_t + dt)  # group ids accumulate across batches
        sc.setJobGroup(None, None)


def build_windows_fixture():
    d = eq._t(spark, sf_dir, "documents")
    merges, words = bpe_train(d, "text", num_merges=eq._BPE_N)
    kept = words.orderBy(F.col("cnt").desc(), "word").limit(eq._BPE_OOV_KEEP)
    vocab = bpe_vocab(spark, words, merges, byte_fallback=True)
    enc = bpe_encode_ids(d, "doc_id", "text", kept, vocab, oov="bytes").localCheckpoint()
    src = eq._pinned_shard_src(
        eq._ascending_id_shards(enc), ["doc_id", "token_ids"], "pbs"
    )
    dtypes = dict(enc.dtypes)
    stream = (
        spark.readStream.schema(
            f"doc_id {dtypes['doc_id']}, token_ids {dtypes['token_ids']}"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(os.path.join(src, "shard-*"))
    )
    return stream


if which == "noop":
    stream = build_windows_fixture()
    seen = []

    def nothing(batch_df, batch_id):
        seen.append(batch_id)

    t0 = time.monotonic()
    q = (
        stream.writeStream.foreachBatch(nothing)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="pbs-cp-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    print(
        f"noop drain: {jobs} machinery jobs over {len(seen)} triggers "
        f"(batch body empty), wall {time.monotonic()-t0:.2f}s"
    )
elif which == "windows":
    from cassandra_util_spark.operators.packing import (
        _windows_shard_step,
        carry_from_window_row,
    )
    from cassandra_util_spark.streaming.corpus import (
        _boundary_row,
        _prior_max_bin_runs,
    )
    from cassandra_util_spark.streaming.ingest import run_name_for_batch

    stream = build_windows_fixture()
    store = RunStore(
        tempfile.mkdtemp(prefix="pbs-store-"), TableMeta(("bin",), (), "writetime")
    )
    capacity, id_col, ids_col = 1024, "doc_id", "token_ids"

    def window_batch_instrumented(batch_df, batch_id):
        id_type = dict(batch_df.dtypes)[id_col]
        elem = batch_df.schema[ids_col].dataType.elementType.simpleString()
        with step("1-dedup"):
            batch_df = batch_df.groupBy(id_col).agg(
                F.max(F.col(ids_col)).alias(ids_col)
            )
        carry, bin_base, hi = [], 0, None
        with step("2-carry-read"):
            prior_runs = _prior_max_bin_runs(store, batch_id)
            if prior_runs is not None:
                p = _boundary_row(store, spark, prior_runs[0], batch_id)
                if p is not None:
                    hi = max(int(s["doc"]) for s in p["doc_spans"])
                    if int(p["n_tokens"]) < capacity:
                        bin_base = int(p["bin"])
                        carry = carry_from_window_row(p)
                    else:
                        bin_base = int(p["bin"]) + 1
        with step("4-shard-step"):
            win, _, _, mn = _windows_shard_step(
                spark, carry, batch_df, id_col, ids_col, capacity, id_type,
                elem, with_min_id=True,
            )
            if hi is not None and mn is not None:
                assert mn > hi
            out = win.select(
                (F.col("bin") + F.lit(bin_base)).cast("bigint").alias("bin"),
                F.col("n_docs").cast("bigint").alias("n_docs"),
                F.col("n_tokens").cast("bigint").alias("n_tokens"),
                "token_ids", "doc_spans",
            ).withColumn("writetime", F.lit(batch_id).cast("long"))
        with step("5-append-run"):
            store._append(out, run_name_for_batch(batch_id), f"pbs:{batch_id}")

    t0 = time.monotonic()
    with eq._scoped_shuffle_partitions(spark, 8):
        q = (
            stream.writeStream.foreachBatch(window_batch_instrumented)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="pbs-cp-"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    machinery = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    total = machinery + sum(n for n, _ in STEPS.values())
    print(f"windows drain steps (3 triggers), wall {time.monotonic()-t0:.2f}s:")
    for name in sorted(STEPS):
        n, dt = STEPS[name]
        print(f"  {name:16s} {n:3d} jobs  {dt:6.2f}s")
    print(f"  {'machinery':16s} {machinery:3d} jobs  (runId group)")
    print(f"  total {total} jobs")
elif which == "ingest":
    from cassandra_util_spark.operators.dedup import (
        _digest_for,
        _lsh_probe_dup_ids,
        exact_dedup,
        minhash_signatures,
    )
    from cassandra_util_spark.operators.text import whitespace_token_count
    from cassandra_util_spark.streaming.ingest import run_name_for_batch

    d = eq._t(spark, sf_dir, "documents")
    dd = d.select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="pbs-ing-src-")
    for k in range(3):
        dd.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode("append").parquet(src)
    corpus_store = RunStore(
        tempfile.mkdtemp(prefix="pbs-cs-"), TableMeta(("doc_id",), (), "writetime")
    )
    index_store = RunStore(
        tempfile.mkdtemp(prefix="pbs-is-"), TableMeta(("id",), (), "writetime")
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    id_col, text_col = "doc_id", "text"
    n, num_perm, bands, threshold, hash_fn = 3, 64, 16, 0.5, "portable"

    def ingest_batch_instrumented(batch_df, batch_id):
        with step("1-gate-dedup"):
            kept = batch_df.filter(
                whitespace_token_count(F.col(text_col)) >= 30
            )
            kept = exact_dedup(kept, id_col, [text_col])
        idx = None
        idx_runs = index_store.live_runs()
        if idx_runs:
            with step("2-idx-read"):
                idx = spark.read.parquet(
                    *(os.path.join(index_store.root, r) for r in idx_runs)
                )
            with step("3-digest-anti"):
                kept = (
                    kept.withColumn("__digest", _digest_for(kept, [text_col]))
                    .join(
                        idx.select(F.col("digest").alias("__digest")),
                        "__digest", "left_anti",
                    )
                    .drop("__digest")
                )
                sig_new = minhash_signatures(
                    kept, id_col, text_col, n, num_perm, hash_fn
                ).localCheckpoint(eager=False)
                dup_ids = _lsh_probe_dup_ids(
                    sig_new, idx.select("id", "sig"), num_perm, bands, threshold, hash_fn
                )
                kept = kept.join(
                    dup_ids, F.col(id_col) == F.col("__dup_id"), "left_anti"
                )
        else:
            sig_new = minhash_signatures(kept, id_col, text_col, n, num_perm, hash_fn)
        with step("4-kept-pin"):
            kept = kept.localCheckpoint()
        with step("5-corpus-append"):
            corpus_store.append_run(
                kept.withColumn("writetime", F.lit(batch_id).cast("long")),
                name=run_name_for_batch(batch_id),
            )
        with step("6-index-append"):
            idx_rows = (
                kept.select(
                    F.col(id_col).alias("id"),
                    _digest_for(kept, [text_col]).alias("digest"),
                )
                .join(sig_new, "id", "left")
                .withColumn("writetime", F.lit(batch_id).cast("long"))
            )
            index_store.append_run(idx_rows, name=run_name_for_batch(batch_id))
        corpus_store._publish(mark=f"pbs:{batch_id}")

    t0 = time.monotonic()
    with eq._scoped_shuffle_partitions(spark, 8):
        q = (
            stream.writeStream.foreachBatch(ingest_batch_instrumented)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="pbs-ing-cp-"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    machinery = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    total = machinery + sum(n_ for n_, _ in STEPS.values())
    print(f"ingest drain steps (3 triggers), wall {time.monotonic()-t0:.2f}s:")
    for name in sorted(STEPS):
        n_, dt = STEPS[name]
        print(f"  {name:16s} {n_:3d} jobs  {dt:6.2f}s")
    print(f"  {'machinery':16s} {machinery:3d} jobs  (runId group)")
    print(f"  total {total} jobs")
else:
    raise SystemExit(f"unknown probe {which!r}")
