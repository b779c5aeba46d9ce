"""Cassandra-backed KeyedTable via the Spark Cassandra Connector — the bulk
read path (BASELINE.json: "Spark Cassandra Connector for bulk operations").

The connector jar is not bundled, so a read fails with
:class:`ConnectorUnavailable` until ``spark.jars.packages`` includes
``com.datastax.spark:spark-cassandra-connector_2.13``; the call shape and
option names are the connector's public, documented surface:
``spark.read.format("org.apache.spark.sql.cassandra")`` with
``keyspace``/``table`` options; the connector pushes key predicates down to
CQL token ranges and exposes ``writetime(col)`` through
``spark.cassandra.read.*`` options.  Locality
(``repartitionByCassandraReplica`` / DirectJoin) arrives with the
connector's Catalyst extensions
(``spark.sql.extensions=com.datastax.spark.connector.CassandraSparkExtensions``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession

from cassandra_util_spark.core.table import KeyedTable, TableMeta

CASSANDRA_FORMAT = "org.apache.spark.sql.cassandra"


class ConnectorUnavailable(RuntimeError):
    pass


# -- pure option construction (unit-testable without the connector jar) -----

def read_options(keyspace: str, table: str) -> dict[str, str]:
    """Reader options for the connector's documented surface."""
    if not keyspace or not table:
        raise ValueError("keyspace and table are required")
    return {"keyspace": keyspace, "table": table}


def writetime_projection(column: str) -> str:
    """The ``writetime(col)`` projection expression the connector exposes
    (surfaces the cell timestamp as a queryable column)."""
    if not column.isidentifier():
        raise ValueError(f"writetime_of must be a column identifier, got {column!r}")
    return f"writetime({column})"


# Smoke recipe when a connector jar IS present (not in this container):
#   spark = (SparkSession.builder
#            .config("spark.jars.packages",
#                    "com.datastax.spark:spark-cassandra-connector_2.13:3.5.1")
#            .config("spark.sql.extensions",
#                    "com.datastax.spark.connector.CassandraSparkExtensions")
#            .config("spark.cassandra.connection.host", "127.0.0.1")
#            .getOrCreate())
#   t = read_cassandra_table(spark, "ks", "events", ["id"], writetime_of="payload")
#   t.df.show()   # then RetentionJob(t, convictor).run() as with parquet


def _check_connector(spark: SparkSession) -> None:
    try:
        # the connector registers this format; loading its DataSource class
        # is the cheapest availability probe
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.spark.sql.cassandra.DefaultSource"
        )
    except Exception as e:  # noqa: BLE001 - py4j raises opaque Py4JError
        raise ConnectorUnavailable(
            "Spark Cassandra Connector not on the classpath; add "
            "spark.jars.packages=com.datastax.spark:spark-cassandra-connector_2.13:3.5.1 "
            "(not available in this container - use the parquet source)"
        ) from e


def read_cassandra_table(
    spark: SparkSession,
    keyspace: str,
    table: str,
    partition_keys: list[str],
    clustering_keys: list[str] = [],
    writetime_of: Optional[str] = None,
) -> KeyedTable:
    """KeyedTable over a live Cassandra table.  ``writetime_of`` names a
    regular column whose writetime is surfaced as the ``writetime`` column
    (per-cell timestamps collapse to that column's, matching the engine's
    per-row writetime model)."""
    _check_connector(spark)
    df = spark.read.format(CASSANDRA_FORMAT).options(**read_options(keyspace, table)).load()
    if writetime_of is not None:
        from pyspark.sql import functions as F

        df = df.withColumn("writetime", F.expr(writetime_projection(writetime_of)))
    meta = TableMeta(
        tuple(partition_keys),
        tuple(clustering_keys),
        "writetime" if writetime_of else None,
    )
    return KeyedTable(df, meta, f"{keyspace}.{table}")
