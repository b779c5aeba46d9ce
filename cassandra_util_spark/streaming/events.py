"""Structured Streaming surface: event ingestion + retention maintenance.

The reference has no stream processor, but its semantics are stream-shaped
(SURVEY §2.8): writes arrive with client-set timestamps (past OR future),
deletion is retroactive and applied lazily at compaction, and progress is
reported at an interval.  Mapping:

- event-time = ``writetime`` (µs) derived from the event timestamp;
- retention = a periodic maintenance job: ``Trigger.AvailableNow`` +
  ``foreachBatch`` applying the same compiled keep-expression the batch
  RetentionJob uses — one code path for both (the "compaction" analog);
- rate limiting (the reference's compaction throughput throttle,
  ``FilteringSSTableScanner.java:195-203``) = ``maxFilesPerTrigger`` /
  ``maxBytesPerTrigger``;
- progress reporting (``dcs_status_report_ms``) = :class:`ProgressListener`
  (a StreamingQueryListener feeding MetricsRegistry per micro-batch) for
  streams; :class:`~cassandra_util_spark.core.metrics.StatusReporter` for
  batch retention runs;
- late data: watermarks gate only *stateful* windowed aggregation, never
  retention — a record older than the watermark still gets retention-filtered
  (the reference deletes retroactively at any age).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from cassandra_util_spark.core.table import KeyedTable, TableMeta
from cassandra_util_spark.functions import normalize_event_time, writetime_micros
from cassandra_util_spark.operators.convictors import Convictor
from cassandra_util_spark.streaming.ingest import _drain


def progress_listener(registry, name: str = "stream"):
    """StreamingQueryListener recording per-micro-batch progress into a
    :class:`MetricsRegistry` — the streaming half of ``dcs_status_report_ms``
    (``FilteringSSTableScanner.java:333-373``): rows ingested, rows/sec, and
    batch ids land in ``registry.reports`` as the query runs.

    Register with ``spark.streams.addListener(listener)``; events are
    delivered asynchronously by Spark's listener bus, so tests should poll
    briefly after ``awaitTermination``.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            registry.incr(f"{name}.started")

        def onQueryProgress(self, event) -> None:
            p = event.progress
            registry.incr(f"{name}.reports")
            registry.incr(f"{name}.input_rows", int(p.numInputRows))
            registry.report(
                {
                    "name": name,
                    "batch_id": p.batchId,
                    "num_input_rows": int(p.numInputRows),
                    "processed_rows_per_sec": float(p.processedRowsPerSecond or 0.0),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            registry.incr(f"{name}.terminated")

    return ProgressListener()


def stream_events(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    ts_col: str = "ts",
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """File-stream reader over an events directory with writetime derivation.

    ``max_files_per_trigger`` is the ingestion rate limiter.
    """
    # NTZ→TIMESTAMP (and any timezone-sensitive writetime derivation) is only
    # epoch-preserving under a UTC session tz; the caller's session may carry
    # anything, so pin it here exactly as entry_queries._t does
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    # normalize first (type-aware: handles TIMESTAMP, TIMESTAMP_NTZ, and raw
    # int64-nanos schemas), then derive the epoch-µs writetime
    df = normalize_event_time(df, ts_col)
    return df.withColumn("writetime", writetime_micros(F.col(ts_col)))


def windowed_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Tumbling event-time window aggregate with late-data watermark —
    streaming form of the ``events_hourly_rollup`` batch query (same results
    once all data is ingested)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(28,6)")).cast("double").alias("value_sum"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            *group_cols,
            "n_events",
            "value_sum",
        )
    )


def streaming_retention(
    events: DataFrame,
    meta: TableMeta,
    convictor_factory: Callable[[KeyedTable], Convictor],
    output_dir: str,
    checkpoint_dir: str,
    backup_dir: Optional[str] = None,
) -> StreamingQuery:
    """Retention as a maintenance stream: each micro-batch flows through the
    SAME compiled keep-expression as the batch RetentionJob (foreachBatch),
    convicted rows optionally appended to a backup sink first.

    ``Trigger.AvailableNow`` drains everything currently present then stops —
    the scheduled-compaction analog; leave the query running for continuous
    maintenance.  At-least-once: the checkpoint records source offsets, but
    the sinks are plain ``mode("append")`` writes with no applied-batch
    mark, so a batch replayed after a crash appends its rows again.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        table = KeyedTable(batch_df, meta, "stream-batch")
        convictor = convictor_factory(table)
        keep = convictor.keep_expr()
        if convictor.spooked:
            # degradation ladder holds in streaming too: spooked => pass
            # everything through (dry run), never partial deletion
            batch_df.write.mode("append").parquet(output_dir)
            return
        if backup_dir is not None:
            batch_df.filter(~keep).write.mode("append").parquet(backup_dir)
        batch_df.filter(keep).write.mode("append").parquet(output_dir)

    return (
        events.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def continuous_rollup(
    events: DataFrame,
    store,
    checkpoint_dir: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> StreamingQuery:
    """Continuously-maintained rollup table (the hypertable/continuous-
    aggregate pattern): each micro-batch's partial aggregates merge into a
    versioned snapshot, so the rollup is always queryable at full history —
    unlike append-mode windowed output, closed windows update when late data
    arrives (retrospective semantics, like retention).

    Merge math: counts and DECIMAL sums are associative, so
    merge(old, partial) = groupBy(keys).sum — one tiny shuffle over
    (windows x groups), independent of event volume.  Exactly-once: the
    replay guard of :mod:`.ingest` with the snapshot-tag mark, so replayed
    batches are skipped instead of double-counted.
    """
    from pyspark.sql import functions as F2

    def apply(batch_df: DataFrame, batch_id: int, app_id: str) -> None:
        partial = (
            batch_df.groupBy(F2.window(F2.col(ts_col), window).alias("w"), *group_cols)
            .agg(
                F2.count(F2.lit(1)).alias("n_events"),
                F2.sum(F2.col(value_col).cast("decimal(28,6)")).alias("value_sum"),
            )
            .select(
                F2.unix_timestamp(F2.col("w.start")).alias("window_start"),
                *group_cols,
                "n_events",
                "value_sum",
            )
        )
        version = store.current_version()
        if version is not None:
            old = store.read(batch_df.sparkSession, version)
            merged = (
                old.unionByName(partial)
                .groupBy("window_start", *group_cols)
                .agg(
                    F2.sum("n_events").alias("n_events"),
                    F2.sum("value_sum").alias("value_sum"),
                )
            )
        else:
            merged = partial
        store.commit(merged, tag=f"{app_id}:{batch_id}")

    return _drain(events, checkpoint_dir, None, store, apply)


def streaming_dedup(
    events: DataFrame,
    id_cols: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "2 hours",
    digest_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: keys are remembered only
    within the watermark horizon (``dropDuplicatesWithinWatermark``), so state
    size tracks the duplicate-arrival window, not the full stream history —
    the property that keeps this runnable forever at ingest scale.  A plain
    ``dropDuplicates`` on an unbounded stream leaks state linearly.

    ``digest_cols``: optional content columns folded into a 256-bit digest
    dedup key (the streaming form of :func:`operators.dedup.exact_dedup` —
    dedup on content, shuffle 32 bytes regardless of payload size).
    """
    keyed = events
    keys = list(id_cols)
    if digest_cols:
        from cassandra_util_spark.operators.dedup import content_digest

        keyed = events.withColumn(
            "__digest", content_digest(*[F.col(c) for c in digest_cols])
        )
        keys = keys + ["__digest"]
    out = keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return out.drop("__digest") if digest_cols else out


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join within an event-time interval: each left
    event pairs with right events of the same key whose timestamp lands in
    ``[left_ts, left_ts + max_delay]`` — the attribution-window shape
    (click ⨝ purchases within the hour).

    BOUNDED STATE is the whole design: both sides carry watermarks and the
    join condition carries an event-time range, which together let Spark
    prove when a buffered row can never match again and evict it — the
    documented requirement for state cleanup in stream-stream joins.  A
    keyed equi-join without the time bound would buffer both streams
    forever.  State per side ≈ rows inside (watermark + max_delay), not
    stream history.

    Columns of the right side are suffixed ``_r`` (both sides usually come
    from the same schema).  Output matches the equivalent batch range join
    row-for-row on the same inputs (test-pinned)."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    for c in r.columns:
        r = r.withColumnRenamed(c, f"{c}_r")
    cond = (
        (F.col(key_col) == F.col(f"{key_col}_r"))
        & (F.col(f"{right_ts}_r") >= F.col(left_ts))
        & (F.col(f"{right_ts}_r") <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, "inner")


def streaming_apply_changelog(
    changes: DataFrame,
    base: DataFrame,
    store,
    checkpoint_dir: str,
    primary_key: tuple[str, ...],
    writetime_col: str = "writetime",
    op_col: str = "op",
    tiebreak: tuple[str, ...] = (),
) -> StreamingQuery:
    """Continuously-applied CDC changelog: each micro-batch of upserts and
    deletes merges into a versioned snapshot whose LIVE view always equals
    the batch :func:`~cassandra_util_spark.operators.merge.apply_changelog`
    over every change seen so far.

    The state RETAINS delete markers instead of dropping deleted keys — the
    tombstone-retention insight from ``compact_with_tombstones``: incremental
    application is only associative over winners if deletes stay visible.
    Dropping a key on delete would let an OLDER upsert arriving in a later
    micro-batch (out-of-order delivery) resurrect it, diverging from the
    batch semantics where the newest mutation wins globally.  Markers are
    filtered at read time (:func:`read_changelog_state`), the exact analog
    of gc_grace: here "no older data can still arrive" has no watermark, so
    markers live for the state's lifetime.

    Exactly-once: the replay guard of :mod:`.ingest` with the snapshot-tag
    mark — replayed batches skip, not re-apply.

    Scale: per micro-batch one key shuffle over state ∪ batch.  State is
    table-sized; for 100 TB state the same merge runs against a partitioned
    store with only touched partitions rewritten (merge-on-read compaction),
    which this versioned-parquet store models at test scale.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    order = [
        F2.col(writetime_col).desc(),
        (F2.col(op_col) == "D").desc(),
        *[F2.col(c).desc() for c in tiebreak],
    ]
    w = Window.partitionBy(*primary_key).orderBy(*order)

    def apply(batch_df: DataFrame, batch_id: int, app_id: str) -> None:
        version = store.current_version()
        if version is not None:
            state = store.read(batch_df.sparkSession, version)
        else:
            state = base.withColumn(op_col, F2.lit("U"))
        merged = (
            state.unionByName(batch_df)
            .withColumn("__rn", F2.row_number().over(w))
            .filter(F2.col("__rn") == 1)
            .drop("__rn")
        )
        store.commit(merged, tag=f"{app_id}:{batch_id}")

    return _drain(changes, checkpoint_dir, None, store, apply)


def read_changelog_state(spark, store, op_col: str = "op") -> DataFrame:
    """The LIVE view of a :func:`streaming_apply_changelog` state: delete
    markers filtered out, marker column dropped."""
    from pyspark.sql import functions as F2

    version = store.current_version()
    if version is None:
        raise ValueError("changelog state has no committed version yet")
    return store.read(spark, version).filter(F2.col(op_col) != "D").drop(op_col)
