"""Versioned parquet snapshot store with one atomically swapped commit record.

The reference's retention rewrite relies on Cassandra compaction's atomic
SSTable replacement (write new files, swap, delete old) and a backup sink with
a begin/close/abort protocol (``IDeletedRecordsSink.java:26-58``,
``BackupSinkForDeletingCompaction.java:43-137``).  On files, the same safety
comes from: write the full new version directory (Spark's job-commit protocol
makes it all-or-nothing), then swap the store's commit record.  A failed
write never touches the record — the abort path is "do nothing", and the
orphaned directory is never listed and is deleted by :meth:`vacuum`.

A store's metadata is that one record, ``_CURRENT`` (JSON): the ordered
versions, each with the Spark schema its parquet footer records; the
current version; the stream mark ``"app_id:batch_id"`` of the last batch a
drain applied; the table meta (key layout) of a keyed commit; and the
sampler identity of a sketch store.  It is written only by the run store's
record writer, ``runs._swap_record`` (lock, re-read, apply, temp +
``os.replace``), so version, mark, meta and identity change in one atomic
step.  Readers parse that one file: ``read`` hands the version's recorded
schema to the scan, so reading a snapshot plans without a Spark job
instead of inferring the schema from a footer (one job per read).  There is
no legacy reader: a ``_CURRENT`` that is not a record raises, naming the
store.

Old versions remain until vacuumed, giving snapshot-read isolation to
concurrent readers (they hold the old version's path).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from cassandra_util_spark.core.table import KeyedTable, TableMeta
from cassandra_util_spark.sources.runs import (
    _footer_schema,
    _load_record,
    _read,
    _swap_record,
    _write_files,
)

_EMPTY = {"versions": [], "current": None, "mark": None, "meta": None, "sampler": None}


class SnapshotStore:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _record(self) -> dict:
        """The store's commit record: ``{"versions": [{"name", "schema"},
        ...], "current", "mark", "meta", "sampler"}``, versions oldest
        first (see ``runs._load_record``)."""
        return _load_record(self.root, "_CURRENT", _EMPTY, "snapshot store")

    def current_version(self) -> Optional[str]:
        return self._record()["current"]

    def current_tag(self) -> Optional[str]:
        """Tag recorded atomically with the version at commit time (exactly-
        once bookkeeping: e.g. the streaming batch id this version applied)."""
        return self._record()["mark"]

    def current_path(self) -> Optional[str]:
        v = self.current_version()
        return os.path.join(self.root, v) if v else None

    def versions(self) -> list[str]:
        """The published versions, oldest first."""
        return [v["name"] for v in self._record()["versions"]]

    def _version_dirs(self) -> list[str]:
        """Every version directory on disk, published or orphaned by a
        failed commit, oldest first."""
        return sorted(
            d for d in os.listdir(self.root) if d.startswith("v") and d[1:].isdigit()
        )

    def commit(self, df: DataFrame, meta: Optional[TableMeta] = None, tag: Optional[str] = None) -> str:
        """Write ``df`` as the next version and publish it in one record swap.

        With ``meta``, data lands clustered (``KeyedTable.clustered``):
        sorted by (pk, ck, writetime) within partitions — the sorted-run
        layout the reference guarantees, which gives parquet row-group pruning
        on key predicates at read time.  A frame that fits one partition
        lands as one sorted file with no shuffle; a larger one is
        repartitioned by partition key first.  The meta is recorded in the
        same swap, for :meth:`read_table`.

        ``tag`` rides in the SAME swap (the record's mark), so bookkeeping
        like "which streaming batch produced this version" is atomic with
        the version — there is no window where the snapshot is committed
        but its provenance is not.  Without ``tag`` the mark is kept.  The
        version's schema is recorded in that swap too, so every published
        version reads without a schema-inference job; a version whose
        footer yields no schema is deleted and raises instead of being
        published.
        """
        return self._commit(df, meta, tag)

    def _commit(
        self,
        df: DataFrame,
        meta: Optional[TableMeta] = None,
        tag: Optional[str] = None,
        sampler: Optional[dict] = None,
    ) -> str:
        """:meth:`commit` that also records the ``sampler`` identity: set by
        the first commit that names one and compared under the record lock
        on every later one, so the first writer wins and a different
        identity raises (see :meth:`_check_sampler`)."""
        if tag is not None and "\n" in tag:
            raise ValueError("tag must be a single line")
        dirs = self._version_dirs()
        version = f"v{int(dirs[-1][1:]) + 1 if dirs else 1:05d}"
        path = os.path.join(self.root, version)
        if meta is not None:
            df = KeyedTable(df, meta).clustered()
        _write_files(df, path)
        schema = _footer_schema(path)
        if schema is None:
            shutil.rmtree(path)
            raise RuntimeError(
                f"snapshot store {self.root}: {version} has no readable parquet "
                "footer schema; not publishing it"
            )

        def change(rec: dict) -> dict:
            self._check_sampler(rec["sampler"], sampler)
            return {
                "versions": rec["versions"] + [{"name": version, "schema": schema}],
                "current": version,
                "mark": rec["mark"] if tag is None else tag,
                "meta": rec["meta"] if meta is None else dataclasses.asdict(meta),
                "sampler": rec["sampler"] or sampler,
            }

        _swap_record(self.root, "_CURRENT", self._record, change)
        return version

    def _check_sampler(self, stored: Optional[dict], sampler: Optional[dict]) -> None:
        """Raise when the recorded identity ``stored`` and the requested
        ``sampler`` are both set and differ: a sketch built under another
        seed, mode, hash, key/weight column or k has priorities that are not
        comparable, so merging into it would be statistically invalid with
        no error."""
        if sampler is not None and stored not in (None, sampler):
            raise RuntimeError(
                f"snapshot store {self.root} was built with a different "
                "sampler identity; refusing to merge incompatible priorities "
                f"(stored {stored}, requested {sampler})"
            )

    # -- table metadata (the catalog entry for this store) ------------------

    def read_meta(self) -> Optional[TableMeta]:
        d = self._record()["meta"]
        if d is None:
            return None
        return TableMeta(
            tuple(d["partition_keys"]), tuple(d["clustering_keys"]), d["writetime_col"]
        )

    def read_table(self, spark: SparkSession, name: str = "snapshot") -> KeyedTable:
        """Current snapshot as a KeyedTable using the recorded key metadata."""
        meta = self.read_meta()
        if meta is None:
            raise FileNotFoundError(
                f"snapshot store {self.root} has no table meta (commit with meta=)"
            )
        return KeyedTable(self.read(spark), meta, name)

    def read(self, spark: SparkSession, version: Optional[str] = None) -> DataFrame:
        """Read the current snapshot, or — time travel — any still-vacuumed
        historical ``version`` (as listed by :meth:`versions`).  Old
        versions are immutable once the record moves past them, so a
        version read is a consistent point-in-time view for as long as
        vacuum retention keeps it.  The version's recorded schema is the
        read's schema, so planning opens only the record and runs no Spark
        job."""
        rec = self._record()
        schemas = {v["name"]: v["schema"] for v in rec["versions"]}
        name = rec["current"] if version is None else version
        if name is None:
            raise FileNotFoundError(f"snapshot store {self.root} has no committed version")
        if name not in schemas:
            raise FileNotFoundError(
                f"snapshot store {self.root} has no version {name!r} "
                f"(available: {list(schemas)})"
            )
        return _read(spark, [os.path.join(self.root, name)], schemas[name])

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Delete all but the newest ``keep_last`` version directories,
        never the current one.  The victims leave the record in one swap
        before their directories go, so no listed version ever lacks its
        files; a directory a failed commit orphaned is deleted the same
        way.  ``keep_last=0`` deletes every version but the current one;
        a negative ``keep_last`` raises."""
        if keep_last < 0:
            raise ValueError(f"keep_last must be >= 0, got {keep_last}")
        current = self.current_version()
        dirs = self._version_dirs()
        victims = [v for v in dirs[:max(len(dirs) - keep_last, 0)] if v != current]
        if victims:
            gone = set(victims)
            _swap_record(self.root, "_CURRENT", self._record, lambda rec: {
                **rec, "versions": [v for v in rec["versions"] if v["name"] not in gone],
            })
        for v in victims:
            shutil.rmtree(os.path.join(self.root, v))
        return victims
