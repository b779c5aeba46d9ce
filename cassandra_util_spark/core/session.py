"""SparkSession construction from plain config — the analog of the reference's
config-driven client factory (cassandra-util ``CassandraClient.scala:47-273``
builds sessions from TypeSafe config; here the "cluster client" is a
SparkSession and the knobs are Spark SQL confs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that matter at 100 TB and cost nothing locally:
#  - AQE: runtime coalescing / skew-join splitting replaces hand-tuned
#    partition counts when stage statistics are known.
#  - adaptive skewJoin: the salting fallback for skewed retention keys.
#  - parquet filter pushdown + vectorized reader keep rule-predicates in the
#    scan (the reference's partition-level short circuit,
#    FilteringSSTableScanner.java:95-124, becomes row-group pruning).
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # driver testdata stores event time as TIMESTAMP(NANOS); read as raw int64
    # nanos and convert explicitly (Spark's timestamp type is microseconds)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark still defaults to deprecated INT96 timestamps, which carry NO
    # parquet column statistics — every engine the run store interoperates
    # with (and its own footer-derived skip index, RunStore._footer_stats)
    # needs the stats-bearing modern physical type
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Spark 4's default, pinned explicitly so a deployment override can't
    # silently change arithmetic/cast semantics (e.g. sum overflow wraps
    # with ANSI off; the engine's decimal(38,0) signature sums assume the
    # ANSI error instead).  NOTE: ANSI does NOT reject numeric→timestamp
    # casts (measured on 4.1.2: bigint casts as epoch-seconds, silently) —
    # which is exactly why raw event-time columns must go through the
    # type-introspecting normalize_event_time / derive_writetime, never the
    # Column-level writetime_micros.
    "spark.sql.ansi.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # generated classes kept compiled (a static conf; Spark's default is
    # 100).  A corpus_stream benchmark cycle (three drains) uses ~230
    # distinct classes, so at 100 every cycle recompiled ~215 of them with
    # Janino, and the LRU falls back into that once the working set
    # outgrows the cache (4 vCPUs, seeds 1-3, compiles per repeated cycle:
    # 200 entries ~115, 230 up to 69, 240 up to 36, 256 and 512 22 in the
    # first repeat and 0-4 after).  512 leaves the working set twice the
    # room that 256, the smallest size at <= 30, leaves it
    "spark.sql.codegen.cache.maxEntries": "512",
}


def get_spark(
    app_name: str = "cassandra-util-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) for
    local runs; on a real cluster leave it unset and submit normally.
    ``shuffle_partitions`` defaults to 2x the local cores — at cluster scale
    set it (or rely on AQE coalescing) so post-shuffle partitions stay in the
    100-500 MB range.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or 2 * cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
