"""Structured Streaming: ingestion, windowed rollup, retention maintenance."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cassandra_util_spark.core.table import KeyedTable, TableMeta
from cassandra_util_spark.functions import normalize_event_time
from cassandra_util_spark.operators.convictors import RuleBasedDeletionConvictor
from cassandra_util_spark.plans.rules import Range, Rule
from cassandra_util_spark.streaming import stream_events, streaming_retention, windowed_rollup


@pytest.fixture
def workdir():
    d = tempfile.mkdtemp(prefix="stream-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture
def events_src(spark, workdir):
    """Events staged as parquet files (the stream source), with a plain
    timestamp column (micros) so the stream schema is explicit."""
    src = os.path.join(workdir, "src")
    # normalize via the package helper — NOT a private copy of the conversion,
    # so a Spark upgrade changing the parquet read type breaks exactly one place
    df = normalize_event_time(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    df.write.parquet(src)
    return src, df


def test_stream_drains_and_matches_batch_rollup(spark, workdir, events_src):
    src, batch_df = events_src
    schema = batch_df.schema
    out = os.path.join(workdir, "rollup")
    cp = os.path.join(workdir, "cp1")

    events = stream_events(spark, src, schema, max_files_per_trigger=1)
    assert events.isStreaming
    rolled = windowed_rollup(events)
    q = (
        rolled.writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    # append mode emits a window only once the watermark (max event time - 2h)
    # passes its END; the trailing windows stay in state awaiting more data
    max_ts = batch_df.agg(F.max("ts")).collect()[0][0]
    emitted = (
        batch_df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
    )
    assert got.count() == emitted.count()
    assert (
        got.agg(F.sum("n_events")).collect()[0][0]
        == emitted.agg(F.sum("n")).collect()[0][0]
    )


def test_streaming_retention_matches_batch(spark, workdir, events_src):
    src, batch_df = events_src
    schema = batch_df.schema
    out = os.path.join(workdir, "kept")
    backup = os.path.join(workdir, "backup")
    cp = os.path.join(workdir, "cp2")

    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    rules = [Rule("purge_low_users", {"user_id": (Range("0", "49"),)})]

    def factory(table):
        return RuleBasedDeletionConvictor(table, rules=rules)

    events = stream_events(spark, src, schema)
    q = streaming_retention(events, meta, factory, out, cp, backup_dir=backup)
    q.awaitTermination(120)

    kept = spark.read.parquet(out)
    convicted = spark.read.parquet(backup)
    assert kept.count() == batch_df.filter("user_id > 49").count()
    assert convicted.count() == batch_df.filter("user_id <= 49").count()
    assert kept.filter("user_id <= 49").count() == 0

    # exactly-once: rerunning with the same checkpoint adds nothing
    q2 = streaming_retention(
        stream_events(spark, src, schema), meta, factory, out, cp, backup_dir=backup
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == kept.count()


def test_streaming_retention_spooked_passes_through(spark, workdir, events_src):
    src, batch_df = events_src
    schema = batch_df.schema
    out = os.path.join(workdir, "kept-spooked")
    cp = os.path.join(workdir, "cp3")

    meta = TableMeta(("user_id",), ("event_id",), "writetime")
    bad_rules = [Rule("bad", {"nonexistent_col": (Range("1", "2"),)})]

    def factory(table):
        return RuleBasedDeletionConvictor(table, rules=bad_rules)

    q = streaming_retention(stream_events(spark, src, schema), meta, factory, out, cp)
    q.awaitTermination(120)
    # spooked => dry run => everything passes through, nothing deleted
    assert spark.read.parquet(out).count() == batch_df.count()


def test_continuous_rollup_matches_batch(spark, workdir, events_src):
    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.events import continuous_rollup

    src, batch_df = events_src
    store = SnapshotStore(os.path.join(workdir, "rollup-store"))
    cp = os.path.join(workdir, "cp-rollup")

    # several micro-batches (one file per trigger)
    events = stream_events(spark, src, batch_df.schema, max_files_per_trigger=1)
    q = continuous_rollup(events, store, cp)
    q.awaitTermination(180)

    got = store.read(spark)
    expected = (
        batch_df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("value_sum"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type", "n_events", "value_sum",
        )
    )
    # every window present with full-history totals (no watermark withholding)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0

    # replaying the drained stream must not double-count
    q2 = continuous_rollup(stream_events(spark, src, batch_df.schema), store, cp)
    q2.awaitTermination(120)
    again = store.read(spark)
    assert again.exceptAll(expected).count() == 0 and expected.exceptAll(again).count() == 0


def test_stateful_ttl_counter(spark, workdir, events_src):
    from cassandra_util_spark.streaming.stateful import ttl_counter

    src, batch_df = events_src
    out = os.path.join(workdir, "ttl-counter")
    cp = os.path.join(workdir, "cp-ttl")

    events = stream_events(spark, src, batch_df.schema, max_files_per_trigger=1)
    counted = ttl_counter(events.drop("writetime"), ttl_seconds=3600, watermark="30 minutes")
    q = (
        counted.writeStream.outputMode("update")
        # parquet sinks reject update mode; append each update batch instead
        .foreachBatch(lambda df, _id: df.write.mode("append").parquet(out))
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    # each TTL expiry closes an epoch and a fresh state restarts counting:
    # per (user, epoch) the updates are cumulative, so max(n_events) is that
    # epoch's total, and summing epochs must conserve every event
    per_epoch = (
        got.groupBy("user_id", "epoch_start_ms")
        .agg(F.max("n_events").alias("n"))
        .groupBy("user_id")
        .agg(F.sum("n").alias("total"))
    )
    totals = {r["user_id"]: r["total"] for r in per_epoch.collect()}
    expected = {
        r["user_id"]: r["cnt"]
        for r in batch_df.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert totals == expected
    # with a 1h TTL over a 30-day stream and a 30-min watermark, silent users
    # must actually expire
    assert got.filter("expired").count() > 0


def test_streaming_dedup_bounded_state(spark, workdir, events_src):
    """Duplicated source files: every event arrives twice within the
    watermark horizon; the deduped stream must match the batch distinct."""
    src, batch_df = events_src
    # stage an exact duplicate of the source as a second file batch
    dup = os.path.join(workdir, "src_dup")
    os.makedirs(dup, exist_ok=True)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src, f), os.path.join(dup, "dup-" + f))
    for f in os.listdir(dup):
        shutil.copy(os.path.join(dup, f), os.path.join(src, f))

    from cassandra_util_spark.streaming import stream_events, streaming_dedup

    out = os.path.join(workdir, "deduped")
    cp = os.path.join(workdir, "cp_dedup")
    events = stream_events(spark, src, batch_df.schema)
    deduped = streaming_dedup(events, ("event_id",), watermark="48 hours")
    q = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == batch_df.select("event_id").distinct().count()
    assert got.select("event_id").distinct().count() == got.count()


def test_streaming_dedup_content_digest(spark, workdir, events_src):
    """Content-digest mode: same payload under different event ids collapses
    to one row per (digest) key."""
    src, batch_df = events_src
    from cassandra_util_spark.streaming import stream_events, streaming_dedup

    out = os.path.join(workdir, "deduped2")
    cp = os.path.join(workdir, "cp_dedup2")
    events = stream_events(spark, src, batch_df.schema)
    deduped = streaming_dedup(
        events, (), watermark="48 hours", digest_cols=("user_id", "event_type", "props")
    )
    q = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = batch_df.select("user_id", "event_type", "props").distinct().count()
    assert got.count() == want
    assert "__digest" not in got.columns


def test_streaming_progress_listener(spark, workdir, events_src):
    """Streaming half of dcs_status_report_ms: per-micro-batch progress
    reports land in the registry via the listener bus."""
    import time as _time

    from cassandra_util_spark.core.metrics import MetricsRegistry
    from cassandra_util_spark.streaming.events import progress_listener

    src, batch_df = events_src
    reg = MetricsRegistry()
    listener = progress_listener(reg, name="ingest")
    spark.streams.addListener(listener)
    try:
        out = os.path.join(workdir, "listener-out")
        cp = os.path.join(workdir, "listener-cp")
        q = (
            stream_events(spark, src, batch_df.schema)
            .writeStream.option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .start()
        )
        q.awaitTermination(120)
        # listener-bus delivery is async: poll briefly
        deadline = _time.monotonic() + 30
        while _time.monotonic() < deadline and reg.counters["ingest.reports"] < 1:
            _time.sleep(0.2)
        assert reg.counters["ingest.reports"] >= 1
        assert reg.counters["ingest.input_rows"] == batch_df.count()
        assert any("processed_rows_per_sec" in r for r in reg.reports)
    finally:
        spark.streams.removeListener(listener)


def test_streaming_hash_sample_matches_batch(spark, workdir, events_src):
    """The sampling gate is a stateless expression, so the SAME operator
    runs unchanged on a stream — and, because membership is a pure function
    of the key, the streamed sample equals the batch sample row-for-row."""
    from cassandra_util_spark.operators.sampling import hash_sample

    src, batch_df = events_src
    out = os.path.join(workdir, "sampled")
    cp = os.path.join(workdir, "cp_sample")
    events = stream_events(spark, src, batch_df.schema)
    q = (
        hash_sample(events, 0.25, "event_id")
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(r["event_id"] for r in spark.read.parquet(out).select("event_id").collect())
    want = sorted(
        r["event_id"] for r in hash_sample(batch_df, 0.25, "event_id").select("event_id").collect()
    )
    assert got == want and 0 < len(got) < batch_df.count()


def test_streaming_text_scoring_matches_batch(spark, workdir, events_src):
    """Quality scoring, language ID, and PII redaction are stateless
    expressions: the same operator columns run unchanged on a stream and
    produce row-identical results to batch."""
    from cassandra_util_spark.operators.text import lang_id, quality_score, redact_pii

    src, batch_df = events_src
    out = os.path.join(workdir, "scored")
    cp = os.path.join(workdir, "cp_scored")

    def score(df):
        t = F.col("props")  # events' JSON string column doubles as text here
        return df.select(
            "event_id",
            quality_score(t).alias("q"),
            lang_id(t).alias("l"),
            redact_pii(t).alias("clean"),
        )

    events = stream_events(spark, src, batch_df.schema)
    q = (
        score(events)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple, spark.read.parquet(out).collect()), key=lambda r: r[0]
    )
    want = sorted(map(tuple, score(batch_df).collect()), key=lambda r: r[0])
    assert got == want and len(got) == batch_df.count()


def test_streaming_dedup_against_static_reference(spark, workdir, events_src):
    """dedup_against works unchanged on a stream: the historical digest
    set is a static side of a stream-static left-anti join, so streaming
    ingestion dedups against the persisted corpus with no extra code."""
    from cassandra_util_spark.operators.dedup import dedup_against

    src, batch_df = events_src
    # historical reference = half the events (by id parity)
    reference = batch_df.filter(F.col("event_id") % 2 == 0).select("event_id", "props")
    out = os.path.join(workdir, "new_only")
    cp = os.path.join(workdir, "cp_against")
    events = stream_events(spark, src, batch_df.schema).select("event_id", "props")
    q = (
        dedup_against(events, reference, "event_id", ["event_id", "props"])
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    want = sorted(
        r["event_id"]
        for r in dedup_against(
            batch_df.select("event_id", "props"), reference, "event_id", ["event_id", "props"]
        ).collect()
    )
    assert got == want and 0 < len(got) < batch_df.count()


def test_streaming_dedup_against_bloom(spark, workdir, events_src):
    """The Bloom-pruned variant also runs unchanged on a stream: the bitmap
    is built once from the STATIC reference at plan time, broadcasts into
    every micro-batch, and the exact anti-join only sees Bloom hits — the
    streamed result matches the batch anti-join row-for-row."""
    from cassandra_util_spark.operators.dedup import dedup_against

    src, batch_df = events_src
    reference = batch_df.filter(F.col("event_id") % 2 == 0).select("event_id", "props")
    out = os.path.join(workdir, "new_only_bloom")
    cp = os.path.join(workdir, "cp_against_bloom")
    events = stream_events(spark, src, batch_df.schema).select("event_id", "props")
    q = (
        dedup_against(events, reference, "event_id", ["event_id", "props"],
                      method="bloom", bloom_bits=1 << 16)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    want = sorted(
        r["event_id"]
        for r in dedup_against(
            batch_df.select("event_id", "props"), reference, "event_id", ["event_id", "props"]
        ).collect()
    )
    assert got == want and 0 < len(got) < batch_df.count()


def test_stream_events_bigint_nanos_schema(spark, workdir):
    """A stream source whose schema carries raw int64-nanos event time (the
    Spark 3 nanosAsLong reading) derives the same epoch-µs writetime as a
    TIMESTAMP source — not the 1e9-mis-scaled value a naive bigint→timestamp
    cast would produce."""
    from cassandra_util_spark.functions import normalize_event_time

    base = normalize_event_time(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ).limit(50)
    src = os.path.join(workdir, "nanos_src")
    nanos_df = base.withColumn("ts", F.unix_micros("ts") * F.lit(1000))
    nanos_df.write.parquet(src)

    out = os.path.join(workdir, "nanos_out")
    cp = os.path.join(workdir, "nanos_cp")
    q = (
        stream_events(spark, src, nanos_df.schema)
        .select("event_id", "writetime")
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)

    got = {r["event_id"]: r["writetime"] for r in spark.read.parquet(out).collect()}
    want = {r["event_id"]: r["wt"] for r in
            base.select("event_id", F.unix_micros("ts").alias("wt")).collect()}
    assert got == want and len(got) == 50


def test_streaming_gopher_gate_and_span_excision_match_batch(spark, workdir, events_src):
    """The round-4 map-only operators are stateless expressions too: the
    Gopher rule battery and within-document span excision run unchanged on
    a stream and produce row-identical results to batch."""
    from cassandra_util_spark.operators.dedup import remove_repeated_spans_within
    from cassandra_util_spark.operators.text import gopher_quality

    src, batch_df = events_src
    out = os.path.join(workdir, "gated")
    cp = os.path.join(workdir, "cp_gated")

    def gate_stream(df):
        text_df = df.select("event_id", F.col("props").alias("text"))
        g = gopher_quality(text_df, "event_id", "text")
        s = remove_repeated_spans_within(text_df, "event_id", "text", chunk_words=4)
        return g.select("event_id", "n_words", "stop_hits", "passes"), s

    events = stream_events(spark, src, batch_df.schema)
    g_stream, s_stream = gate_stream(events)
    for name, sdf in (("g", g_stream), ("s", s_stream)):
        q = (
            sdf.writeStream.outputMode("append")
            .option("checkpointLocation", os.path.join(cp, name))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", os.path.join(out, name))
            .start()
        )
        q.awaitTermination(120)

    g_batch, s_batch = gate_stream(batch_df)
    for name, bdf in (("g", g_batch), ("s", s_batch)):
        got = sorted(map(tuple, spark.read.parquet(os.path.join(out, name)).collect()))
        want = sorted(map(tuple, bdf.collect()))
        assert got == want and len(got) == batch_df.count(), name


def test_streaming_winnowing_fingerprints_matches_batch(spark, workdir, events_src):
    """Winnowing fingerprint extraction is a pure per-row expression — it
    runs unchanged on a stream and yields row-identical fingerprint sets
    to batch, so streaming ingestion can fingerprint documents for overlap
    detection with no dedicated streaming code."""
    from cassandra_util_spark.operators.dedup import winnowing_fingerprints

    src, batch_df = events_src
    out = os.path.join(workdir, "winnowed")
    cp = os.path.join(workdir, "cp_winnowed")

    def fp(df):
        return df.select(
            "event_id",
            F.sort_array(winnowing_fingerprints(F.col("props"), k=2, w=3)).alias("fps"),
        )

    events = stream_events(spark, src, batch_df.schema)
    q = (
        fp(events)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r["event_id"], tuple(r["fps"])) for r in spark.read.parquet(out).collect()
    )
    want = sorted((r["event_id"], tuple(r["fps"])) for r in fp(batch_df).collect())
    assert got == want and len(got) == batch_df.count()


def test_streaming_interval_join_matches_batch(spark, workdir, events_src):
    """The watermarked stream-stream interval join emits exactly the pairs
    the equivalent batch range join produces: clicks joined to same-user
    purchases within the following hour."""
    from cassandra_util_spark.streaming.events import stream_events, streaming_interval_join

    src, batch_df = events_src
    schema = batch_df.schema
    out = os.path.join(workdir, "ij-out")
    cp = os.path.join(workdir, "ij-cp")

    clicks_s = stream_events(spark, src, schema).filter(F.col("event_type") == "click")
    purch_s = stream_events(spark, src, schema).filter(F.col("event_type") == "purchase")
    joined = streaming_interval_join(
        clicks_s.select("user_id", "event_id", "ts"),
        purch_s.select("user_id", "event_id", "ts"),
        "user_id", max_delay="1 hour",
    ).select("event_id", "event_id_r")
    assert joined.isStreaming
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(180)

    got = {(r["event_id"], r["event_id_r"])
           for r in spark.read.parquet(out).collect()}
    c = batch_df.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    p = batch_df.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pe"), F.col("ts").alias("pts"))
    want = {
        (r["event_id"], r["pe"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") >= F.col("ts"))
            & (F.col("pts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want and got


def test_streaming_changelog_apply_matches_batch(spark, workdir):
    """Micro-batched CDC application converges to the batch apply_changelog
    result even when a DELETE arrives in an earlier micro-batch than an
    OLDER out-of-order upsert for the same key — the marker-retention case
    where naive drop-on-delete state diverges."""
    from cassandra_util_spark.operators.merge import apply_changelog
    from cassandra_util_spark.sources.snapshots import SnapshotStore
    from cassandra_util_spark.streaming.events import (
        read_changelog_state,
        streaming_apply_changelog,
    )

    base = spark.createDataFrame(
        [("a", "v0", 10), ("b", "v0", 10), ("c", "v0", 10)],
        "k string, v string, writetime bigint",
    )
    # file 0 (first micro-batch): delete b at t=30
    # file 1 (second micro-batch): out-of-order upsert b at t=20 — must NOT
    # resurrect b; and upsert c at t=40
    b0 = [("b", None, 30, "D")]
    b1 = [("b", "stale", 20, "U"), ("c", "v1", 40, "U")]
    schema = "k string, v string, writetime bigint, op string"
    src = os.path.join(workdir, "cdc-src")
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    store = SnapshotStore(os.path.join(workdir, "cdc-state"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_apply_changelog(
        stream, base, store,
        os.path.join(workdir, "cdc-cp"),
        primary_key=("k",), tiebreak=("v",),
    )
    q.awaitTermination(120)

    got = {(r.k, r.v) for r in read_changelog_state(spark, store).collect()}
    all_changes = spark.createDataFrame(b0 + b1, schema)
    want = {(r.k, r.v) for r in apply_changelog(
        base, all_changes, ["k"], "writetime", "op", tiebreak=["v"]
    ).collect()}
    assert got == want
    assert ("b", "stale") not in got  # zombie prevention
    assert got == {("a", "v0"), ("c", "v1")}
    # exactly-once bookkeeping: batch id rode the pointer write
    assert store.current_tag() is not None
