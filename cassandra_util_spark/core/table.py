"""Keyed-table data model.

The reference operates on Cassandra's wide-row model: a table's primary key
splits into partition key columns and clustering columns, every cell carries a
writetime (microseconds), and data lives in multiple overlapping sorted runs
merged by last-write-wins (see cassandra-util
``AbstractSimpleDeletingConvictor.java:82-113`` for key decomposition and
``RuleBasedLateTTLConvictorSpec.scala:307-335`` for the overlapping-run merge
semantics).

Spark mapping: a ``KeyedTable`` is a DataFrame plus ``TableMeta`` naming the
key columns and the writetime column.  The canonical ("merged") view dedups
overlapping snapshots with one window over the full primary key — a single
shuffle on the key, which is the theoretical minimum for a last-write-wins
merge and scales linearly with executors (AQE splits skewed keys).
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _fits_one_partition(df: DataFrame) -> bool:
    """True when ``df``'s optimized-plan size estimate is at most
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` — the input AQE
    would coalesce into one post-shuffle partition anyway.  The estimate is
    the metadata-only one ``autoBroadcastJoinThreshold`` trusts (file
    sizes, local-relation rows), so deciding runs no Spark job.  An
    unknown estimate reads as ``Long.MaxValue`` and an inflated one (a
    join's estimate is the product of its inputs') exceeds the bound, so
    both keep the shuffle; so does a frame with no JVM plan to read."""
    size = _plan_bytes(df)
    return size is not None and size <= _one_partition_bytes(df.sparkSession)


def _plan_bytes(df: DataFrame) -> "int | None":
    """``df``'s optimized-plan ``sizeInBytes`` estimate (metadata only, no
    job), or None when ``df`` has no JVM plan to read."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except (AttributeError, Py4JError):
        return None


def _one_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.adaptive.advisoryPartitionSizeInBytes``, the bound of
    :func:`_fits_one_partition`, read through SQLConf so the conf's
    fallback default resolves."""
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    return int(spark._jsparkSession.sessionState().conf().getConf(
        sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    ))


@dataclass(frozen=True)
class TableMeta:
    """Key metadata for a table — the analog of Cassandra table metadata
    (``cfs.metadata.partitionKeyColumns()`` / ``clusteringColumns()``)."""

    partition_keys: tuple[str, ...]
    clustering_keys: tuple[str, ...] = ()
    writetime_col: str | None = None

    def __post_init__(self) -> None:
        if not self.partition_keys:
            raise ValueError("a keyed table needs at least one partition key column")
        overlap = set(self.partition_keys) & set(self.clustering_keys)
        if overlap:
            raise ValueError(f"columns cannot be both partition and clustering keys: {overlap}")

    @property
    def primary_key(self) -> tuple[str, ...]:
        return self.partition_keys + self.clustering_keys

    def key_kind(self, column: str) -> str | None:
        """'pk' | 'ck' | None for a column name."""
        if column in self.partition_keys:
            return "pk"
        if column in self.clustering_keys:
            return "ck"
        return None


@dataclass
class KeyedTable:
    df: DataFrame
    meta: TableMeta
    name: str = "unnamed"

    @classmethod
    def from_parquet(
        cls,
        spark: SparkSession,
        path: str,
        partition_keys: list[str] | tuple[str, ...],
        clustering_keys: list[str] | tuple[str, ...] = (),
        writetime_col: str | None = None,
        name: str | None = None,
    ) -> "KeyedTable":
        df = spark.read.parquet(path)
        meta = TableMeta(tuple(partition_keys), tuple(clustering_keys), writetime_col)
        return cls(df, meta, name or path.rsplit("/", 1)[-1].removesuffix(".parquet"))

    def validate(self) -> None:
        cols = set(self.df.columns)
        missing = [c for c in self.meta.primary_key if c not in cols]
        if missing:
            raise ValueError(f"key columns {missing} not in table columns {sorted(cols)}")
        if self.meta.writetime_col and self.meta.writetime_col not in cols:
            raise ValueError(f"writetime column {self.meta.writetime_col!r} not in table")

    def dtype_of(self, column: str) -> str:
        for name, dtype in self.df.dtypes:
            if name == column:
                return dtype
        raise KeyError(column)

    # ------------------------------------------------------------------
    # Sorted-run semantics
    # ------------------------------------------------------------------

    def merged(self) -> DataFrame:
        """Last-write-wins view across overlapping snapshots: newest
        ``writetime`` per primary key survives (the compaction merge).

        One shuffle on the primary key; survives 100x scale because the key
        space grows with the data (no reduce-to-one).  Rows tied on writetime
        collapse arbitrarily-but-deterministically via a monotonic tiebreak.
        """
        if self.meta.writetime_col is None:
            return self.df.dropDuplicates(list(self.meta.primary_key))
        w = Window.partitionBy(*self.meta.primary_key).orderBy(
            F.col(self.meta.writetime_col).desc()
        )
        return (
            self.df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def clustered(self) -> DataFrame:
        """Physical layout the reference guarantees on disk: partitioned by
        partition key, rows sorted by clustering key within a partition
        (``BackupSinkForDeletingCompaction.java:55-57`` relies on it).  Use
        before writing so downstream merge/scan gets sorted runs.

        A frame that fits one partition (:func:`_fits_one_partition`) lands
        as ONE sorted file with no shuffle — a memtable flush, not a
        redistribution; AQE would coalesce its shuffle output to one
        partition anyway.  Larger frames hash-repartition on the partition
        key as before."""
        if _fits_one_partition(self.df):
            out = self.df.coalesce(1)
        else:
            out = self.df.repartition(*[F.col(c) for c in self.meta.partition_keys])
        order = [F.col(c) for c in self.meta.primary_key]
        if self.meta.writetime_col:
            order.append(F.col(self.meta.writetime_col))
        return out.sortWithinPartitions(*order)

    def iter_rows(self, key_ordered: bool = False):
        """Lazily stream rows to the driver — the paged-fetch/Enumerator
        consumption surface (cql-wrapper ``CQLStatement.scala:138-149``,
        prefetch ``Implicits.scala:59-92``).  Spark fetches a partition ahead
        (the mapPrefetch analog); ``key_ordered`` yields primary-key order
        like a clustering-ordered CQL scan."""
        df = self.df.orderBy(*self.meta.primary_key) if key_ordered else self.df
        return df.toLocalIterator(prefetchPartitions=True)

    def with_df(self, df: DataFrame) -> "KeyedTable":
        return KeyedTable(df, self.meta, self.name)
