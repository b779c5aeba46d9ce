"""Versioned parquet snapshot store with an atomic commit pointer.

The reference's retention rewrite relies on Cassandra compaction's atomic
SSTable replacement (write new files, swap, delete old) and a backup sink with
a begin/close/abort protocol (``IDeletedRecordsSink.java:26-58``,
``BackupSinkForDeletingCompaction.java:43-137``).  On files, the same safety
comes from: write the full new version directory (Spark's job-commit protocol
makes it all-or-nothing), then atomically repoint ``_CURRENT``.  A failed
write never touches the pointer — the abort path is "do nothing".

Old versions remain until vacuumed, giving snapshot-read isolation to
concurrent readers (they hold the old pointer's path).

Each version directory also carries a ``_SCHEMA.json`` sidecar: the Spark
schema its parquet footer records, written by ``commit`` after the data and
before the pointer swap.  ``read`` hands it to the reader, so reading a
snapshot plans without a Spark job instead of inferring the schema from a
footer (one job per read).  Spark's listing skips ``_``-prefixed files, so
the sidecar is invisible to plain parquet readers.  A version without one
does not read: ``read`` raises, naming the store and the version.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from cassandra_util_spark.core.table import KeyedTable, TableMeta
from cassandra_util_spark.sources.runs import _footer_schema, _read, _write_files

_SCHEMA = "_SCHEMA.json"


class SnapshotStore:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def current_version(self) -> Optional[str]:
        try:
            with open(self._pointer) as f:
                content = f.read().strip()
        except FileNotFoundError:
            return None
        return content.split("\n", 1)[0] or None

    def current_tag(self) -> Optional[str]:
        """Tag recorded atomically with the pointer at commit time (exactly-
        once bookkeeping: e.g. the streaming batch id this version applied)."""
        try:
            with open(self._pointer) as f:
                content = f.read().strip()
        except FileNotFoundError:
            return None
        parts = content.split("\n", 1)
        return parts[1] if len(parts) == 2 else None

    def current_path(self) -> Optional[str]:
        v = self.current_version()
        return os.path.join(self.root, v) if v else None

    def versions(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root) if d.startswith("v") and d[1:].isdigit()
        )

    def _next_version(self) -> str:
        vs = self.versions()
        n = int(vs[-1][1:]) + 1 if vs else 1
        return f"v{n:05d}"

    def commit(self, df: DataFrame, meta: Optional[TableMeta] = None, tag: Optional[str] = None) -> str:
        """Write ``df`` as the next version and swap the pointer atomically.

        With ``meta``, data lands clustered (``KeyedTable.clustered``):
        sorted by (pk, ck, writetime) within partitions — the sorted-run
        layout the reference guarantees, which gives parquet row-group pruning
        on key predicates at read time.  A frame that fits one partition
        lands as one sorted file with no shuffle; a larger one is
        repartitioned by partition key first.

        ``tag`` rides in the SAME pointer write (second line of ``_CURRENT``),
        so bookkeeping like "which streaming batch produced this version" is
        atomic with the version swap — there is no window where the snapshot
        is committed but its provenance is not.  The version's schema
        sidecar is written before the swap too, so every published version
        reads without a schema-inference job; a version whose footer yields
        no schema is deleted and raises instead of being published.
        """
        if tag is not None and "\n" in tag:
            raise ValueError("tag must be a single line")
        version = self._next_version()
        path = os.path.join(self.root, version)
        if meta is not None:
            df = KeyedTable(df, meta).clustered()
            self._write_meta(meta)
        _write_files(df, path)
        schema = _footer_schema(path)
        if schema is None:
            shutil.rmtree(path)
            raise RuntimeError(
                f"snapshot store {self.root}: {version} has no readable parquet "
                "footer schema; not publishing it"
            )
        with open(os.path.join(path, _SCHEMA), "w") as f:
            json.dump(schema, f)
        # POSIX rename is atomic: readers see either the old or the new pointer
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="._CURRENT.")
        with os.fdopen(fd, "w") as f:
            f.write(version if tag is None else f"{version}\n{tag}")
        os.replace(tmp, self._pointer)
        return version

    # -- table metadata (the catalog entry for this store) ------------------

    def _write_meta(self, meta: TableMeta) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="._META.")
        with os.fdopen(fd, "w") as f:
            json.dump(
                {
                    "partition_keys": list(meta.partition_keys),
                    "clustering_keys": list(meta.clustering_keys),
                    "writetime_col": meta.writetime_col,
                },
                f,
            )
        os.replace(tmp, os.path.join(self.root, "_META"))

    def read_meta(self) -> Optional[TableMeta]:
        try:
            with open(os.path.join(self.root, "_META")) as f:
                d = json.load(f)
        except FileNotFoundError:
            return None
        return TableMeta(
            tuple(d["partition_keys"]), tuple(d["clustering_keys"]), d.get("writetime_col")
        )

    def read_table(self, spark: SparkSession, name: str = "snapshot") -> KeyedTable:
        """Current snapshot as a KeyedTable using the persisted key metadata."""
        meta = self.read_meta()
        if meta is None:
            raise FileNotFoundError(f"snapshot store {self.root} has no _META (commit with meta=)")
        return KeyedTable(self.read(spark), meta, name)

    def read(self, spark: SparkSession, version: Optional[str] = None) -> DataFrame:
        """Read the current snapshot, or — time travel — any still-vacuumed
        historical ``version`` (as listed by :meth:`versions`).  Old
        versions are immutable once the pointer moves past them, so a
        version read is a consistent point-in-time view for as long as
        vacuum retention keeps it.  The version's ``_SCHEMA.json`` sidecar
        is the read's schema, so planning runs no Spark job; a version
        without one raises FileNotFoundError."""
        if version is not None:
            if version not in self.versions():
                raise FileNotFoundError(
                    f"snapshot store {self.root} has no version {version!r} "
                    f"(available: {self.versions()})"
                )
            path = os.path.join(self.root, version)
        else:
            path = self.current_path()
            if path is None:
                raise FileNotFoundError(f"snapshot store {self.root} has no committed version")
        try:
            with open(os.path.join(path, _SCHEMA)) as f:
                schema = json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"snapshot store {self.root} version {os.path.basename(path)!r} "
                f"has no {_SCHEMA}"
            ) from None
        return _read(spark, [path], schema)

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` versions (never the current)."""
        current = self.current_version()
        victims = [v for v in self.versions()[:-keep_last] if v != current]
        for v in victims:
            shutil.rmtree(os.path.join(self.root, v))
        return victims
