"""LSM-style run store: overlapping sorted runs + size-tiered compaction.

The reference's retention engine runs INSIDE a real compaction strategy —
``DeletingCompactionStrategy`` wraps an underlying strategy (size-tiered by
default) and filters rows while that strategy merges overlapping SSTables
(DeletingCompactionStrategy.java:102-126 builds the scanner list the
underlying strategy chose).  ``SnapshotStore`` models the atomic-swap side
of that world; this module models the other half: a table as a SET of
overlapping runs, readable without merging eagerly, with a maintenance
``compact()`` that applies Cassandra's size-tiered bucketing
(SizeTieredCompactionStrategy semantics: bucket runs of similar size, merge
buckets that reach ``min_threshold``) — and optionally the retention
filter, which is exactly where the reference hooks its convictors.

A store's metadata is one commit record, ``_RUNS`` (JSON): the ordered
live runs, each with its LSM level and its stats entry (row count,
per-column min/max skip index, parquet bytes and Spark schema, all taken
from the written footers), plus the stream mark ``"app_id:batch_id"`` of
the last micro-batch a drain applied.  :meth:`RunStore._publish` is its
only writer, through :func:`_swap_record`, the one record writer of this
module and of ``SnapshotStore``: under the store lock it re-reads the
record, applies the change (here the adds, drops, levels and mark), and
swaps it in through a temp file and ``os.replace`` — one atomic step, as
the reference replaces SSTables and their metadata together and as Delta
Lake's log commits a table version.
Readers parse that one file, so planning a read opens one metadata file
and never runs a Spark job: every scan is handed its run's recorded
schema instead of inferring it from a footer (one job per directory).
Runs sharing a schema are read as one multi-file scan.  A small bounded
read is not a Spark job at all: when the runs it keeps share one schema
and hold at most 4 MB of parquet, the driver reads their files with
``pyarrow.dataset`` under the bounds, takes the LWW winners and hands
them back as a local relation, as a Cassandra replica answers a
bound ``SELECT`` from its SSTables (see :meth:`RunStore.read_merged`).
A merge reads only the bucket's runs.  When their union's size estimate
fits one partition (``spark.sql.adaptive.advisoryPartitionSizeInBytes``,
the size AQE would coalesce a shuffle's output to) it merges in ONE
partition with no exchange, as Cassandra merges a partition's few
SSTable fragments in place, and an append or compaction output that fits
lands as one sorted file; larger inputs shuffle once on the primary key
(the LWW window).

Store file format: every file a store writes (run appends, STCS/TWCS and
leveled compaction output, counter folds, snapshot versions and the
retention backup) is parquet with zstd-compressed pages at parquet's
default level, written through :func:`_write_files`.  Like Cassandra's
per-table SSTable ``compression`` option, the format belongs to the store:
a session's ``spark.sql.parquet.compression.codec`` does not change it.
The codec is recorded per file, so runs written with another codec stay
readable and merge with zstd runs in one scan.
"""

from __future__ import annotations

import copy
import json
import operator
import os
import tempfile
import time
from contextlib import contextmanager
from functools import reduce
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cassandra_util_spark.core.table import (
    KeyedTable,
    TableMeta,
    _fits_one_partition,
    _one_partition_bytes,
    _plan_bytes,
)

# the footer key Spark's parquet writer stores the row schema under — the
# one Spark's own schema inference reads back
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# the footer keys Spark's parquet writer adds when it rebases dates and
# timestamps to the legacy hybrid calendar, which Arrow's reader does not
_LEGACY_CALENDAR = {b"org.apache.spark.legacyDateTime", b"org.apache.spark.legacyINT96"}
# the most recorded parquet bytes a bounded read serves on the driver:
# the largest size measured at which the driver lost on no read shape.
# 4 overlapping lsm-shaped runs, local[4] with a 1 GB driver heap, medians
# of two fresh-driver passes, driver against Spark job: a 25-key lookup
# took 54-70 against ~350 ms at 1-4.1 MB and still 240-290 against
# 400-440 ms at 59 MB; a read keeping every row, then aggregated, took
# 410-560 against 600-700 ms at 4.1 MB, 720-920 against 690-730 ms at
# 8.2 MB and 1.6-1.8 against 0.9-1.0 s at 16 MB (JVM peak +450 against
# +330 MB), and ran the heap out at 59 MB, as the driver holds the rows
# as Arrow, as IPC and as a JVM local relation.  It also caps the encode
# and window micro-batches the drains transform on the driver, which won
# at every measured size (one-trigger drains, same set-up, medians of 3:
# encode 0.89 against 1.85 s at 0.27 MB and 3.0 against 4.9 s at 3.9 MB;
# windows 0.47 against 1.29 s at 0.30 MB and 1.17 against 2.05 s at
# 2.9 MB).
_DRIVER_READ_BYTES = 4 << 20


def _driver_sized(df: DataFrame) -> bool:
    """True when ``df``'s optimized-plan size estimate (metadata only, the
    one :func:`_fits_one_partition` reads) is at most
    ``_DRIVER_READ_BYTES``: the micro-batches the encode and window drains
    transform on the driver."""
    size = _plan_bytes(df)
    return size is not None and size <= _DRIVER_READ_BYTES


def _parquet_parts(path: str) -> list[str]:
    """The parquet part files of a written directory, sorted.  Like Spark's
    listing, ``_``/``.``-prefixed names (stats, sidecars) never count."""
    return sorted(
        os.path.join(path, p)
        for p in os.listdir(path)
        if p.endswith(".parquet") and not p.startswith((".", "_"))
    )


def _as_nullable(t):
    """Spark's ``DataType.asNullable`` on a schema's JSON form.  A file
    source reports every field, array element and map value nullable
    whatever the footer says, so a recorded schema is kept in that form and
    equals the schema an inferring read reports."""
    kind = t.get("type") if isinstance(t, dict) else None
    if kind == "struct":
        return {**t, "fields": [
            {**f, "nullable": True, "type": _as_nullable(f["type"])}
            for f in t["fields"]
        ]}
    if kind == "array":
        return {**t, "containsNull": True, "elementType": _as_nullable(t["elementType"])}
    if kind == "map":
        return {**t, "valueContainsNull": True, "keyType": _as_nullable(t["keyType"]),
                "valueType": _as_nullable(t["valueType"])}
    return t


def _spark_schema(arrow_schema) -> Optional[dict]:
    """The Spark schema (``StructType`` JSON) a parquet footer records, or
    None for a file Spark did not write."""
    raw = (arrow_schema.metadata or {}).get(_SPARK_SCHEMA_KEY)
    return None if raw is None else _as_nullable(json.loads(raw))


def _footer_schema(path: str) -> Optional[dict]:
    """The Spark schema of the parquet written to directory ``path``, from
    its first part's footer (what Spark's inference would read), or None
    when there is no readable part."""
    parts = _parquet_parts(path)
    try:
        import pyarrow.parquet as pq

        return _spark_schema(pq.read_schema(parts[0])) if parts else None
    except (ImportError, OSError, ValueError):
        return None


def _write_files(
    df: DataFrame, path: str, mode: str = "errorifexists", partition_by: Sequence[str] = ()
) -> None:
    """Write ``df`` to ``path`` as store files: parquet with zstd pages,
    whatever the session's default codec (see the module note)."""
    writer = df.write.mode(mode).option("compression", "zstd")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _within(bounds: list[tuple], field: Callable):
    """``lo <= field(c) <= hi`` for each (column, lo, hi) of ``bounds`` (a
    None side is open), as one conjunction, or None when no side is set:
    a Spark Column for ``field=F.col``, an Arrow expression for
    ``pyarrow.dataset.field``, so both read paths apply one predicate."""
    conds = []
    for c, lo, hi in bounds:
        if lo is not None:
            conds.append(field(c) >= lo)
        if hi is not None:
            conds.append(field(c) <= hi)
    return reduce(operator.and_, conds) if conds else None


def _read(spark: SparkSession, paths: list[str], schema: dict) -> DataFrame:
    """One parquet scan over ``paths`` with the given ``schema``, planned
    without a Spark job."""
    return spark.read.schema(StructType.fromJson(schema)).parquet(*paths)


@contextmanager
def _locked(root: str, timeout_s: float = 30.0, stale_s: float = 120.0):
    """Advisory record lock (O_CREAT|O_EXCL lockfile ``<root>/_LOCK``) for
    multi-writer stores.  The LWW/compaction paths keep their
    single-maintainer discipline; this exists so INDEPENDENT writers
    (counter deltas, concurrent backfills, two sketch drains first-using
    one snapshot store) can commit without one writer's read → swap losing
    the other's just-published change.  Held only around
    :func:`_swap_record`'s record re-read and swap — never across a data
    write.  A lock older than ``stale_s`` is presumed abandoned (crashed
    holder) and broken; acquisition past ``timeout_s`` raises rather than
    deadlock."""
    lock = os.path.join(root, "_LOCK")
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock) > stale_s:
                    os.unlink(lock)
                    continue
            except FileNotFoundError:
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(f"record lock {lock} held past {timeout_s}s")
            time.sleep(0.05)
    try:
        yield
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


def _load_record(root: str, name: str, empty: dict, kind: str) -> dict:
    """The commit record ``<root>/<name>`` of a store: a JSON object with
    exactly ``empty``'s keys.  A store with no record yet reads as
    ``empty``; a file that is not a record raises, naming the ``kind`` of
    store and its root, rather than read as an empty store."""
    try:
        with open(os.path.join(root, name)) as f:
            text = f.read()
    except FileNotFoundError:
        return copy.deepcopy(empty)
    try:
        rec = json.loads(text)
    except ValueError:
        rec = None
    if not isinstance(rec, dict) or rec.keys() != empty.keys():
        raise ValueError(f"{kind} at {root}: {name} is not a commit record")
    return rec


def _swap_record(
    root: str, name: str, read: Callable[[], dict], change: Callable[[dict], dict]
) -> None:
    """The one writer of every store's commit record: under the store's
    :func:`_locked`, re-read the record with ``read``, apply ``change`` to
    it and swap the result in through a temp file and ``os.replace`` (atomic
    on POSIX), so readers see the old record or the new one and a change
    another writer published meanwhile is never lost.  ``change`` may
    raise to refuse the commit; the record is then left as it was."""
    with _locked(root):
        rec = change(read())
        fd, tmp = tempfile.mkstemp(dir=root, prefix=f"{name}.")
        with os.fdopen(fd, "w") as f:
            json.dump(rec, f, default=str, separators=(",", ":"))
        os.replace(tmp, os.path.join(root, name))


def size_tiered_plan(
    run_sizes: dict[str, int],
    min_threshold: int = 4,
    max_threshold: int = 32,
    bucket_low: float = 0.5,
    bucket_high: float = 1.5,
) -> list[list[str]]:
    """Cassandra STCS bucketing over (run → size-bytes): sort by size, grow
    a bucket while each next run is within ``[avg*bucket_low,
    avg*bucket_high]`` of the bucket's running average; buckets with at
    least ``min_threshold`` members become merge jobs, capped at
    ``max_threshold`` runs per job (largest buckets of small files first —
    the hottest write-amplification debt).

    Pure metadata arithmetic — deterministic, testable without Spark.
    """
    if min_threshold < 2:
        raise ValueError(f"min_threshold must be >= 2, got {min_threshold}")
    ordered = sorted(run_sizes.items(), key=lambda kv: (kv[1], kv[0]))
    buckets: list[tuple[list[str], float]] = []
    for name, size in ordered:
        if buckets:
            members, avg = buckets[-1]
            if avg * bucket_low <= size <= avg * bucket_high:
                members.append(name)
                buckets[-1] = (members, (avg * (len(members) - 1) + size) / len(members))
                continue
        buckets.append(([name], float(size)))
    jobs = [m for m, _ in buckets if len(m) >= min_threshold]
    # smallest-size buckets first: most files per byte merged
    return [m[:max_threshold] for m in jobs]


class RunStore:
    """A table as a set of overlapping parquet runs with one atomically
    swapped commit record (``_RUNS``).  ``append_run`` is the write path
    (cheap, no merge); ``read_merged`` is the query view (LWW across live
    runs); ``compact`` is the maintenance loop."""

    def __init__(self, root: str, meta: TableMeta) -> None:
        self.root = root
        self.meta = meta
        os.makedirs(root, exist_ok=True)

    def _record(self) -> dict:
        """The store's commit record: ``{"runs": [{"name", "level",
        "stats"}, ...], "mark": "app_id:batch_id" | None}``, runs in
        publish order (see :func:`_load_record`)."""
        return _load_record(self.root, "_RUNS", {"runs": [], "mark": None}, "run store")

    def live_runs(self) -> list[str]:
        return [e["name"] for e in self._record()["runs"]]

    def live_levels(self) -> dict[str, int]:
        """Run → LSM level (0 is the overlapping append tier)."""
        return {e["name"]: e["level"] for e in self._record()["runs"]}

    def locked(self, timeout_s: float = 30.0, stale_s: float = 120.0):
        """The store's record lock (:func:`_locked`), for writers that must
        hold it across their own re-read and swap."""
        return _locked(self.root, timeout_s, stale_s)

    def _publish(
        self,
        add: Sequence[str] = (),
        drop: Sequence[str] = (),
        levels: Optional[dict[str, int]] = None,
        mark: Optional[str] = None,
        zorder_by: Optional[list[str]] = None,
    ) -> None:
        """Commit one change to the store's record, the only write of it:
        append the written runs ``add`` (level 0 unless ``levels`` says
        otherwise; a name already live is left as it is), remove the runs
        ``drop``, and set the stream ``mark`` when given.  The added runs'
        stats entries are computed first, outside the lock; the record is
        then re-read and swapped by :func:`_swap_record`, so a run another
        writer published meanwhile is never lost — a mark-only publish
        included."""
        entries = [
            {"name": r, "level": 0, "stats": self._stats(r, zorder_by)} for r in add
        ]

        def change(rec: dict) -> dict:
            live, gone = {e["name"] for e in rec["runs"]}, set(drop)
            runs = [e for e in rec["runs"] if e["name"] not in gone]
            runs += [e for e in entries if e["name"] not in live]
            for e in runs:
                e["level"] = (levels or {}).get(e["name"], e["level"])
            return {"runs": runs, "mark": rec["mark"] if mark is None else mark}

        _swap_record(self.root, "_RUNS", self._record, change)

    def _next_run(self) -> str:
        existing = [
            d for d in os.listdir(self.root) if d.startswith("r") and d[1:].isdigit()
        ]
        n = max((int(d[1:]) for d in existing), default=0) + 1
        return f"r{n:05d}"

    def run_sizes(self) -> dict[str, int]:
        """Run → parquet bytes, as recorded when the run was published."""
        return {e["name"]: e["stats"]["bytes"] for e in self._record()["runs"]}

    def append_run(
        self,
        df: DataFrame,
        name: Optional[str] = None,
        zorder_by: Optional[list[str]] = None,
        zorder_bits: int = 16,
        zorder_files: int = 16,
    ) -> str:
        """Write a new run (clustered by the key layout) and publish it.
        The write is invisible until :meth:`_publish` adds it to the
        commit record — a failed job leaves a dead directory, never a
        half-visible run.  The run's stats entry is taken from the written
        parquet's footers (no Spark job), so leveling and pruned reads can
        reason about the run without scanning data.

        ``name`` makes the append IDEMPOTENT for retrying writers (the
        streaming ingest path names runs by micro-batch id): an already-
        published name is a no-op, and a dead directory from a crashed
        earlier attempt is overwritten rather than duplicated.

        ``zorder_by`` (2 or 3 numeric columns) lays the run's FILES out in
        Morton order instead of key-clustered order: the run-LEVEL skip
        index is layout-independent (whole-run min/max per column either
        way), but each file inside the run becomes a compact rectangle in
        the z-columns' space, so a ``read_merged(extra_bounds=...)``
        predicate on ANY z-column — and especially a 2-D conjunction —
        prunes row groups INSIDE the runs the skip index could not
        eliminate.  The LWW merge is layout-agnostic (it never relies on
        file order), so z-ordered and key-clustered runs coexist in one
        store.
        Reference anchor: the reference prunes sstables by their one
        clustering dimension (DeletingCompactionStrategy.java:102-126
        delegates the key-range scan choice to the layout-aware strategy);
        z-order generalizes that elimination to multiple columns."""
        return self._append(df, name, None, zorder_by, zorder_bits, zorder_files)

    def _append(
        self,
        df: DataFrame,
        name: Optional[str],
        mark: Optional[str],
        zorder_by: Optional[list[str]] = None,
        zorder_bits: int = 16,
        zorder_files: int = 16,
    ) -> str:
        """:meth:`append_run` that also sets the stream ``mark`` in the
        run's own publish, so a drain's batch commits in one record swap:
        the run and its mark become visible together or not at all.  A
        replay whose named run is already live still publishes the mark."""
        run = name if name is not None else self._next_run()
        if name is not None and run in self.live_runs():
            if mark is not None:
                self._publish(mark=mark)
            return run
        path = os.path.join(self.root, run)
        mode = "overwrite" if name is not None else "errorifexists"
        if zorder_by:
            from pyspark.sql import functions as F

            from cassandra_util_spark.operators.zorder import zorder_key

            keyed = zorder_key(df, list(zorder_by), zorder_bits)
            _write_files(
                keyed.repartitionByRange(zorder_files, F.col("zvalue"))
                .sortWithinPartitions("zvalue")
                .drop("zvalue"),
                path,
                mode,
            )
        else:
            _write_files(KeyedTable(df, self.meta).clustered(), path, mode)
        self._publish(add=[run], mark=mark, zorder_by=zorder_by)
        return run

    # -- key-range stats (leveling + pruned reads) --------------------------

    @property
    def _range_col(self) -> str:
        return self.meta.partition_keys[0]

    def _stats(self, run: str, zorder_by: Optional[list[str]] = None) -> dict:
        """The stats entry the record keeps for the written run ``run``:
        ``rows``, parquet ``bytes``, the Spark ``schema`` (``StructType``
        JSON, every field nullable, exactly what
        ``spark.read.parquet(run).schema`` reports, so :meth:`_scan` never
        infers it again) and ``columns``, the min/max skip index of EVERY
        atomic column (ClickHouse minmax-index / Iceberg manifest-stats
        shape).  All of it comes from the parquet FOOTERS, a driver-side
        metadata walk with no Spark job; the Spark agg of
        :meth:`_spark_stats` is the fallback when footers cannot be read.
        A column whose footer stats are missing or unreliable in any row
        group is OMITTED from ``columns``, and so is a float column whose
        stats hold NaN: Spark's parquet writer records NaN as a bound, and
        folding it through ``>``/``<`` (always false) could UNDERSTATE a
        run's max and wrongly prune it.  Consumers treat a missing column
        as non-prunable, so degraded stats can only lose pruning, never
        rows.  ``zorder`` records layout provenance (the columns the run's
        files are Morton-ordered on), so an operator can see WHY a run
        prunes well on them."""
        path = os.path.join(self.root, run)
        stats = self._footer_stats(path)
        if stats is None:  # unreadable footers — pay the read-back job
            stats = self._spark_stats(SparkSession.active(), path)
        rows, cols, schema = stats
        return {
            "rows": rows,
            "bytes": sum(os.path.getsize(p) for p in _parquet_parts(path)),
            "columns": cols,
            "schema": schema,
            **({"zorder": list(zorder_by)} if zorder_by else {}),
        }

    def _footer_stats(self, run_path: str):
        """(rows, {col: {min, max}}, schema) from the parquet footers, or
        None when the directory holds no readable parquet parts or its
        footer records no Spark schema (a file Spark did not write).
        Values are normalized to what the Spark-agg path produces
        (timestamps to naive UTC datetimes, int64 as int), so a stats
        entry is byte-compatible either way — pinned by
        tests/test_runstore.py.  ``schema`` is the Spark schema the first
        part's footer records, the one Spark's inference reads."""
        import datetime

        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover — pyarrow ships with pyspark
            return None
        parts = _parquet_parts(run_path)
        if not parts:
            return None
        try:
            import pyarrow.types as patypes

            schema = pq.read_schema(parts[0])
        except (OSError, ValueError):
            return None
        spark_schema = _spark_schema(schema)
        if spark_schema is None:
            return None
        rows = 0
        # seed every atomic column with null bounds so an empty or all-null
        # run records {min: None, max: None} exactly like the agg path did
        bounds: dict[str, list] = {
            f.name: [None, None]
            for f in schema
            if not (
                patypes.is_nested(f.type)
                or patypes.is_binary(f.type)
                or patypes.is_large_binary(f.type)
            )
        }
        bad: set[str] = set()
        for part in parts:
            try:
                md = pq.ParquetFile(part).metadata
            except (OSError, ValueError):
                return None
            rows += md.num_rows
            for gi in range(md.num_row_groups):
                rg = md.row_group(gi)
                for ci in range(rg.num_columns):
                    col = rg.column(ci)
                    name = col.path_in_schema
                    if name not in bounds or name in bad or rg.num_rows == 0:
                        continue
                    st = col.statistics
                    if st is None:
                        bad.add(name)
                        continue
                    if not st.has_min_max:
                        # all-null groups legitimately carry no bounds —
                        # they contribute nothing, like Spark's null-skipping
                        # min/max; anything else is an unreliable column
                        if st.null_count != rg.num_rows:
                            bad.add(name)
                        continue
                    try:
                        mn, mx = st.min, st.max
                    except NotImplementedError:
                        # Arrow cannot convert some bounds, e.g. a
                        # decimal stored as INT64
                        bad.add(name)
                        continue
                    if isinstance(mn, bytes) or isinstance(mx, bytes):
                        bad.add(name)  # raw binary — the agg path skipped these
                        continue
                    if any(
                        isinstance(v, float) and v != v for v in (mn, mx)
                    ):
                        # NaN bound: folding it through </> (always false)
                        # could understate the run max and lose rows to
                        # pruning — omit the column instead
                        bad.add(name)
                        continue
                    if isinstance(mn, datetime.datetime) and mn.tzinfo is not None:
                        mn = mn.astimezone(datetime.timezone.utc).replace(tzinfo=None)
                        mx = mx.astimezone(datetime.timezone.utc).replace(tzinfo=None)
                    cur = bounds[name]
                    if cur[0] is None or (mn is not None and mn < cur[0]):
                        cur[0] = mn
                    if cur[1] is None or (mx is not None and mx > cur[1]):
                        cur[1] = mx
        return rows, {
            c: {"min": v[0], "max": v[1]}
            for c, v in bounds.items()
            if c not in bad
        }, spark_schema

    def _spark_stats(self, spark: SparkSession, run_path: str):
        """One column-pruned read-back job aggregating min/max over every
        atomic column, plus the inferred schema: the fallback of
        :meth:`_stats` for runs whose footers cannot be read."""
        from pyspark.sql import functions as F

        df = spark.read.parquet(run_path)
        atomic = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName()
            not in ("array", "map", "struct", "binary")
        ]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in atomic:
            aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
        row = df.agg(*aggs).collect()[0]
        return row["__rows"], {
            c: {"min": row[f"__mn_{c}"], "max": row[f"__mx_{c}"]} for c in atomic
        }, json.loads(df.schema.json())

    def run_stats(self) -> dict[str, dict]:
        """Run → stats entry (``rows``, ``bytes``, ``columns``,
        ``schema``; see :meth:`_stats`) for every live run."""
        return {e["name"]: e["stats"] for e in self._record()["runs"]}

    def _scan(self, spark: SparkSession, runs: list[str]) -> list[DataFrame]:
        """The scans that read ``runs``, planned without a Spark job: one
        per group of runs whose record entries hold the same schema, given
        that schema.  Groups keep the order of their first run, so unioning
        the scans by name yields the columns a union of per-run reads did.
        A group is cut into scans of at most
        ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths:
        listing more paths than that is itself a Spark job."""
        stats = self.run_stats()
        groups: dict = {}
        for r in runs:
            schema = stats[r]["schema"]
            key = json.dumps(schema, sort_keys=True)
            groups.setdefault(key, (schema, []))[1].append(os.path.join(self.root, r))
        step = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
        return [
            _read(spark, paths[i:i + step], schema)
            for schema, paths in groups.values()
            for i in range(0, len(paths), step)
        ]

    def _merge(self, dfs: list[DataFrame], allow_schema_evolution: bool) -> DataFrame:
        """The LWW view of the scans ``dfs``.  A union that fits one
        partition is coalesced to it first: one partition satisfies the
        window's key distribution, so the merge plans no exchange and runs
        in the one job that consumes it.  A larger union shuffles on the
        key as before."""
        from cassandra_util_spark.operators.merge import _union_runs, merge_snapshots

        unioned = _union_runs(dfs, self.meta, allow_schema_evolution)
        if _fits_one_partition(unioned):
            unioned = unioned.coalesce(1)
        return merge_snapshots([unioned], self.meta)

    def prune_runs(self, lower, upper, column: Optional[str] = None) -> list[str]:
        """Live runs whose range on ``column`` (default: the first
        partition-key column) MAY intersect [lower, upper].  On the
        partition key this is the leveled-read payoff: L1+ runs are
        non-overlapping, so a bounded read touches at most one run per
        level plus all of L0.  On ANY OTHER atomic column it is the
        skip-index payoff: runs whose per-column min/max excludes the bound
        are skipped entirely — strongest when the layout correlates with
        the column (time-ordered ingest, or a ``write_zordered``-style
        clustered store).  Runs without stats for the column (or with
        un-comparable stats types) are kept — pruning is an optimization,
        never a correctness bet."""
        col = column or self._range_col
        keep: list[str] = []
        for r, st in self.run_stats().items():
            s = st["columns"].get(col)
            if s is None or s["min"] is None:
                keep.append(r)
                continue
            try:
                disjoint = (upper is not None and s["min"] > upper) or (
                    lower is not None and s["max"] < lower
                )
            except TypeError:
                disjoint = False
            if not disjoint:
                keep.append(r)
        return keep

    def read_merged(
        self,
        spark: SparkSession,
        allow_schema_evolution: bool = False,
        key_lower=None,
        key_upper=None,
        extra_bounds: Optional[dict] = None,
    ) -> DataFrame:
        """The table view: LWW across all live runs (newest writetime per
        key; the lazy merge every LSM read path performs).
        ``allow_schema_evolution``: runs written before an ALTER-style
        column addition read with nulls for the new column.

        ``key_lower``/``key_upper`` (inclusive, on the first partition-key
        column) bound the read: runs outside the range are skipped ENTIRELY
        via their stats (on a leveled store that is ~one run per level),
        and the bound is also applied as a pushed filter so partially
        overlapping runs scan only matching row groups.

        ``extra_bounds`` = {column: (lo, hi)} (inclusive; either side may
        be None) prunes on NON-KEY columns through the per-run skip-index
        stats, then pushes the same predicates into the scan.  IMPORTANT
        SEMANTICS: bounds filter the PRE-MERGE rows — a key whose newest
        version falls outside the bound but whose stale version falls
        inside would resurface the stale row, so use extra bounds only on
        columns that are immutable per key (event time, ingest day) or on
        append-only stores; the key bound has the same caveat and the same
        established contract.

        A bounded read whose kept runs are small is served on the driver
        (:meth:`_read_small`), the way a CQL bound ``SELECT`` streams a key
        range back without a distributed job: it runs no Spark job, and a
        new bound compiles no code (the Spark scan inlines bounds into its
        generated code).  It applies when the read has a key bound or
        ``extra_bounds`` and no ``allow_schema_evolution``, the kept runs
        share one recorded schema, their recorded parquet bytes sum to at
        most 4 MB (``_DRIVER_READ_BYTES``, measured) and to at most
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (the
        one-partition bound of :meth:`_merge`), the bound, primary-key
        and writetime columns are integral or string (Arrow and Spark
        order those alike; floats are out, as Spark orders NaN above
        +inf), and no kept row has a null primary-key column.  Such a read
        is a SNAPSHOT taken when this is called, not a lazy scan: a later
        compaction or vacuum cannot break a view already built.  Both
        paths apply one LWW policy (``operators.merge``); as there, which
        of two rows with equal writetimes wins is undefined.  Every other
        read is the lazy Spark scan and merge."""
        from pyspark.sql import functions as F

        bounded = key_lower is not None or key_upper is not None
        runs = self.prune_runs(key_lower, key_upper) if bounded else self.live_runs()
        for col, (lo, hi) in (extra_bounds or {}).items():
            kept = set(self.prune_runs(lo, hi, column=col))
            runs = [r for r in runs if r in kept]
        if not runs:
            live = self.live_runs()
            if live:
                # everything pruned: an empty view with the store's schema
                return self._scan(spark, live[:1])[0].limit(0)
            raise ValueError(f"run store at {self.root} has no runs")
        all_bounds = dict(extra_bounds or {})
        if bounded:
            all_bounds[self._range_col] = (key_lower, key_upper)
        bounds = [(c, lo, hi) for c, (lo, hi) in all_bounds.items()]
        if bounds and not allow_schema_evolution:
            small = self._read_small(spark, runs, bounds)
            if small is not None:
                return small
        dfs = self._scan(spark, runs)
        cond = _within(bounds, F.col)
        if cond is not None:
            dfs = [d.filter(cond) for d in dfs]
        return self._merge(dfs, allow_schema_evolution)

    def _read_small(
        self, spark: SparkSession, runs: list[str], bounds: list[tuple]
    ) -> Optional[DataFrame]:
        """The driver-side form of a bounded :meth:`read_merged` over
        ``runs`` under the (column, lo, hi) triples ``bounds``, or None
        when the read does not qualify (see there).  Each run's part files
        are read with ``pyarrow.dataset`` under the bounds as a pushed
        filter, so row-group stats prune as in the Spark scan, and
        :func:`~cassandra_util_spark.operators.merge.lww_merge_table`
        keeps each key's winner.  The result is a local relation with the
        runs' recorded schema."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import IntegralType, StringType

        from cassandra_util_spark.operators.merge import lww_merge_table

        stats = self.run_stats()
        if len({json.dumps(stats[r]["schema"], sort_keys=True) for r in runs}) > 1:
            return None
        limit = min(_DRIVER_READ_BYTES, _one_partition_bytes(spark))
        if sum(stats[r]["bytes"] for r in runs) > limit:
            return None
        schema = StructType.fromJson(stats[runs[0]]["schema"])
        types = {f.name: f.dataType for f in schema.fields}

        def ordered_alike(col: str, *values) -> bool:
            """Arrow and Spark compare ``col`` with ``values`` alike."""
            t = types.get(col)
            if isinstance(t, IntegralType):
                kind = int
            elif t == StringType():
                kind = str
            else:
                return False
            return all(
                v is None or (isinstance(v, kind) and not isinstance(v, bool))
                for v in values
            )

        wt = self.meta.writetime_col
        keys = list(self.meta.primary_key)
        if not all(ordered_alike(c) for c in keys + ([wt] if wt else [])) or not all(
            ordered_alike(c, lo, hi) for c, lo, hi in bounds
        ):
            return None
        cond = _within(bounds, ds.field)
        parquet = ds.ParquetFileFormat(
            read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        target = to_arrow_schema(schema)
        tables = []
        for r in runs:
            run = ds.dataset(_parquet_parts(os.path.join(self.root, r)), format=parquet)
            if _LEGACY_CALENDAR & set(run.schema.metadata or {}):
                return None  # Spark would rebase these dates; Arrow does not
            tables.append(run.to_table(columns=schema.names, filter=cond).cast(target))
        table = pa.concat_tables(tables)
        if any(table[c].null_count for c in keys):
            return None
        return spark.createDataFrame(lww_merge_table(table, keys, wt), schema=schema)

    def compact(
        self,
        spark: SparkSession,
        min_threshold: int = 4,
        max_threshold: int = 32,
        keep_expr: Optional[Callable[[DataFrame], DataFrame]] = None,
    ) -> list[str]:
        """One round of size-tiered compaction: merge each planned bucket
        into a single run (LWW winners only) and atomically replace the
        inputs in the record.  ``keep_expr`` is the retention hook — the
        deleting-compaction integration point: rows it filters out vanish
        from the merged run exactly as the reference's convictors drop rows
        during the underlying strategy's merge.

        Returns the new run names (empty when no bucket qualifies).
        The read view is invariant under compaction (minus convicted rows).
        """
        plan = size_tiered_plan(
            self.run_sizes(), min_threshold=min_threshold, max_threshold=max_threshold
        )
        return [self._compact_bucket(spark, bucket, keep_expr) for bucket in plan]

    def _compact_bucket(
        self,
        spark: SparkSession,
        bucket: list[str],
        keep_expr: Optional[Callable[[DataFrame], DataFrame]],
    ) -> str:
        """Merge ``bucket``'s runs into one new clustered run (LWW winners,
        ``keep_expr`` applied in-merge) and swap it in for them; returns the
        new run's name.  The body of every size- and time-bucketed round.
        A bucket that fits one partition merges and writes there, with no
        shuffle (see :meth:`_merge` and ``KeyedTable.clustered``)."""
        merged = self._merge(self._scan(spark, bucket), allow_schema_evolution=True)
        if keep_expr is not None:
            merged = keep_expr(merged)
        run = self._next_run()
        _write_files(KeyedTable(merged, self.meta).clustered(), os.path.join(self.root, run))
        self._publish(add=[run], drop=bucket)
        return run

    def compact_leveled(
        self,
        spark: SparkSession,
        run_target_bytes: int = 128 << 20,
        min_threshold: int = 4,
        fanout: int = 10,
        keep_expr: Optional[Callable[[DataFrame], DataFrame]] = None,
    ) -> list[str]:
        """One round of LEVELED compaction — Cassandra's
        LeveledCompactionStrategy shape re-expressed for Spark: L0 is the
        overlapping append tier; every level >= 1 holds runs that are
        NON-OVERLAPPING on the first partition-key column, produced by
        range-repartitioning the merge output into ~``run_target_bytes``
        chunks.  The read-path payoff is :meth:`prune_runs`: a bounded read
        touches at most one run per leveled level (plus L0), where STCS
        would scan every run.

        Per round (one job, from :func:`leveled_plan`): when L0 reaches
        ``min_threshold`` runs, L0+L1 merge into L1 (L0 runs span the key
        space, so all of L1 genuinely participates); when level n's bytes
        exceed ``run_target_bytes * fanout**n``, ONE victim run from Ln
        merges with only the Ln+1 runs its key range overlaps — Cassandra's
        incremental pick-one-sstable discipline, which is what bounds a
        single job at ~(1 + fanout) * run_target bytes no matter how big
        the level is (the 100 TB property: job size is a constant, level
        size is not).  ``keep_expr`` is the deleting-compaction retention
        hook, same as :meth:`compact`.

        The split writes one staging job (`repartitionByRange` on the
        primary key, so chunk boundaries come from range sampling), then
        registers each chunk directory as a run — data moves once, and each
        chunk's stats come from its footers, with no read-back job.
        Returns the new run names (empty when no level triggers).
        """
        import shutil

        from pyspark.sql import functions as F

        from cassandra_util_spark.operators.merge import merge_snapshots

        job = leveled_plan(
            self.run_sizes(),
            self.live_levels(),
            run_target_bytes=run_target_bytes,
            min_threshold=min_threshold,
            fanout=fanout,
            run_ranges={
                r: (c["min"], c["max"])
                for r, s in self.run_stats().items()
                if (c := s["columns"].get(self._range_col)) and c["min"] is not None
            },
        )
        if job is None:
            return []
        inputs, target_level = job
        sizes = self.run_sizes()
        merged = merge_snapshots(
            self._scan(spark, inputs), self.meta, allow_schema_evolution=True
        )
        if keep_expr is not None:
            merged = keep_expr(merged)
        in_bytes = sum(sizes[r] for r in inputs)
        n_out = max(1, -(-in_bytes // run_target_bytes))  # ceil: runs stay <= target
        order = [F.col(c) for c in self.meta.primary_key]
        stage = tempfile.mkdtemp(dir=self.root, prefix="_stage.")
        _write_files(
            merged.repartitionByRange(n_out, *order)
            .withColumn("__chunk", F.spark_partition_id())
            .sortWithinPartitions(*order),
            stage,
            "overwrite",
            partition_by=["__chunk"],
        )
        new_runs: list[str] = []
        levels: dict[str, int] = {}
        chunks = sorted(
            (d for d in os.listdir(stage) if d.startswith("__chunk=")),
            key=lambda d: int(d.split("=")[1]),
        )
        for d in chunks:
            run = self._next_run()
            os.replace(os.path.join(stage, d), os.path.join(self.root, run))
            new_runs.append(run)
            levels[run] = target_level
        shutil.rmtree(stage, ignore_errors=True)
        # publish the chunks only after ALL of them land; each chunk's stats
        # come from its own footers, like an append's
        self._publish(add=new_runs, drop=inputs, levels=levels)
        return new_runs


def leveled_plan(
    run_sizes: dict[str, int],
    run_levels: dict[str, int],
    run_target_bytes: int = 128 << 20,
    min_threshold: int = 4,
    fanout: int = 10,
    run_ranges: Optional[dict[str, tuple]] = None,
) -> Optional[tuple[list[str], int]]:
    """Pick at most ONE leveled merge job: ``(input runs, target level)``.

    Trigger order mirrors Cassandra's LCS priorities: a full L0 tier first
    (reads pay for every overlapping L0 run, so draining it matters most),
    then the shallowest over-full level.  Level n's budget is
    ``run_target_bytes * fanout**n`` — the geometric ladder that bounds
    total levels at log_fanout(data/run_target).  Pure metadata arithmetic,
    deterministic, testable without Spark.

    ``run_ranges`` (run → (min key, max key)) enables the INCREMENTAL
    over-full job: one victim from Ln (lowest min key — a deterministic
    sweep cursor; Cassandra persists a round-robin token cursor, same
    effect) plus only the Ln+1 runs whose ranges intersect it.  The merged
    output's key range is contained in the union of its inputs' ranges, so
    untouched Ln+1 neighbors stay disjoint from the new runs and the
    per-level non-overlap invariant survives without rewriting them.
    Runs missing from ``run_ranges`` (or with un-comparable range types)
    conservatively count as overlapping.  Without ``run_ranges`` the
    over-full job degrades to the full two-level rewrite.
    """
    if min_threshold < 2:
        raise ValueError(f"min_threshold must be >= 2, got {min_threshold}")
    if fanout < 2:
        raise ValueError(f"fanout must be >= 2, got {fanout}")
    by_level: dict[int, list[str]] = {}
    for r in run_sizes:
        by_level.setdefault(run_levels.get(r, 0), []).append(r)
    for lv in by_level:
        by_level[lv].sort()
    l0 = by_level.get(0, [])
    if len(l0) >= min_threshold:
        return ([*l0, *by_level.get(1, [])], 1)
    for lv in sorted(k for k in by_level if k >= 1):
        level_bytes = sum(run_sizes[r] for r in by_level[lv])
        if level_bytes <= run_target_bytes * fanout**lv:
            continue
        nxt = by_level.get(lv + 1, [])
        if not run_ranges:
            return ([*by_level[lv], *nxt], lv + 1)
        # incremental: one victim (lowest min key; unranged runs first so
        # they cannot linger unmergeable), plus overlapping next-level runs
        def _victim_key(r: str):
            rng = run_ranges.get(r)
            return (0,) if rng is None else (1, rng[0], r)

        victim = min(by_level[lv], key=_victim_key)
        v_rng = run_ranges.get(victim)
        overlapping = []
        for r in nxt:
            rng = run_ranges.get(r)
            if v_rng is None or rng is None:
                overlapping.append(r)
                continue
            try:
                disjoint = rng[0] > v_rng[1] or rng[1] < v_rng[0]
            except TypeError:
                disjoint = False
            if not disjoint:
                overlapping.append(r)
        return ([victim, *overlapping], lv + 1)
    return None


def time_window_plan(
    stats: dict,
    live: list,
    time_col: str,
    window_us: int,
    min_threshold: int = 2,
) -> list:
    """TWCS bucketing (Cassandra ``TimeWindowCompactionStrategy``): each
    run belongs to the window of its NEWEST ``time_col`` value (from the
    per-run skip-index stats); windows NEVER merge with each other, and the
    newest window — still receiving flushes — is left to accumulate.
    Returns the windows (as run-name lists) holding ≥ ``min_threshold``
    runs, oldest window first.  Runs without stats for ``time_col`` are
    never planned (same never-a-correctness-bet rule as pruning).

    This is the strategy the reference's deleting compaction typically
    WRAPS in production (DeletingCompactionStrategy delegates bucketing to
    its underlying strategy, DeletingCompactionStrategy.java:102-126):
    time-series runs compact only with their contemporaries, so old
    windows converge to one run each and retention never rewrites them
    again."""
    if window_us < 1:
        raise ValueError(f"window_us must be >= 1, got {window_us}")
    windows: dict[int, list[str]] = {}
    for r in live:
        s = (stats.get(r, {}).get("columns") or {}).get(time_col)
        if s is None or s.get("max") is None or not isinstance(s["max"], int):
            continue
        windows.setdefault(s["max"] // window_us, []).append(r)
    if not windows:
        return []
    newest = max(windows)
    return [
        sorted(runs)
        for win, runs in sorted(windows.items())
        if win != newest and len(runs) >= min_threshold
    ]


def compact_time_windowed(
    store: RunStore,
    spark: SparkSession,
    time_col: str,
    window_us: int,
    min_threshold: int = 2,
    keep_expr: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> list[str]:
    """One TWCS round: merge each qualifying time window into a single run
    (LWW winners, ``keep_expr`` retention applied in-merge — the deleting-
    compaction hook) and atomically replace the inputs.  The merged run's
    recomputed stats land in the same window, so a second round finds the
    window at one run and stops — the loop converges per window."""
    plan = time_window_plan(
        store.run_stats(), store.live_runs(), time_col, window_us, min_threshold
    )
    return [store._compact_bucket(spark, bucket, keep_expr) for bucket in plan]


def drop_expired_windows(store: RunStore, time_col: str, cutoff: int) -> list[str]:
    """Remove every run whose ENTIRE ``time_col`` range is older than
    ``cutoff`` — WITHOUT scanning a row.  This is Cassandra's
    fully-expired-sstable drop, the reason operators run TWCS under
    time-based retention: once a window ages out, its (single, compacted)
    run disappears with a record swap, not a rewrite.  Only the
    skip-index stats are consulted; a run with no stats for ``time_col``
    (or a max AT/after the cutoff) is kept and left to row-level
    retention.  Returns the dropped run names; directories remain for
    :func:`vacuum_dead_runs`, so concurrent readers holding the old
    run list stay consistent."""
    victims = []
    for r, st in store.run_stats().items():
        s = st["columns"].get(time_col)
        if s is not None and isinstance(s.get("max"), int) and s["max"] < cutoff:
            victims.append(r)
    if victims:
        store._publish(drop=victims)
    return victims


def _dir_mtime(path: str) -> float:
    return os.path.getmtime(path)


def vacuum_dead_runs(store: RunStore, min_age_s: float = 3600.0) -> list[str]:
    """Garbage-collect run directories absent from the commit record —
    compaction inputs already replaced, and the debris of failed appends
    or compactions (which write their directory BEFORE the record swap
    publishes it).

    ``min_age_s`` is the in-flight guard: a directory younger than this may
    be an append that has not published it yet, so it is left
    alone — the same reasoning as SnapshotStore.vacuum keeping the newest
    version directories.  Returns the removed run names.
    """
    import shutil

    live = set(store.live_runs())
    removed: list[str] = []
    now = time.time()
    for d in sorted(os.listdir(store.root)):
        if not (d[:1] in ("r", "b") and d[1:].isdigit()) or d in live:
            continue
        path = os.path.join(store.root, d)
        if now - _dir_mtime(path) < min_age_s:
            continue
        shutil.rmtree(path)
        removed.append(d)
    return removed


def maintain(
    store: RunStore,
    spark: SparkSession,
    keep_expr: Optional[Callable[[DataFrame], DataFrame]] = None,
    min_threshold: int = 4,
    max_threshold: int = 32,
    max_rounds: int = 8,
    vacuum_min_age_s: float = 3600.0,
    strategy: str = "stcs",
    run_target_bytes: int = 128 << 20,
    fanout: int = 10,
    time_col: Optional[str] = None,
    window_us: int = 86_400_000_000,
    expire_before: Optional[int] = None,
) -> dict:
    """One maintenance cycle — the ops loop the reference runs inside
    Cassandra's compaction daemon: repeat compaction (with the retention
    ``keep_expr`` applied during each merge, exactly where the reference's
    convictors run) until no bucket/level qualifies, then vacuum dead
    runs.  ``strategy``: "stcs" (size-tiered buckets), "leveled"
    (:meth:`RunStore.compact_leveled` — non-overlapping levels, pruned
    bounded reads), or "twcs" (:func:`compact_time_windowed` —
    time-window buckets on ``time_col``/``window_us``; with
    ``expire_before`` set, fully-expired runs are dropped record-only
    FIRST via :func:`drop_expired_windows`, so aged-out windows cost zero
    scan).  ``max_rounds`` bounds the loop — every strategy converges
    (each merge strictly reduces run count in its bucket), but a bound
    beats a proof in an ops loop.

    Returns a summary dict: rounds run, runs merged, runs before/after,
    dead runs vacuumed (plus expired-dropped runs for twcs).
    """
    if strategy not in ("stcs", "leveled", "twcs"):
        raise ValueError(f"unknown strategy {strategy!r}: stcs | leveled | twcs")
    if strategy == "twcs" and time_col is None:
        raise ValueError("strategy='twcs' requires time_col")
    before = len(store.live_runs())
    rounds = 0
    merged: list[str] = []
    expired: list[str] = []
    if strategy == "twcs" and expire_before is not None:
        expired = drop_expired_windows(store, time_col, expire_before)
    for _ in range(max_rounds):
        if strategy == "stcs":
            new = store.compact(
                spark,
                min_threshold=min_threshold,
                max_threshold=max_threshold,
                keep_expr=keep_expr,
            )
        elif strategy == "twcs":
            new = compact_time_windowed(
                store,
                spark,
                time_col=time_col,
                window_us=window_us,
                min_threshold=min_threshold,
                keep_expr=keep_expr,
            )
        else:
            new = store.compact_leveled(
                spark,
                run_target_bytes=run_target_bytes,
                min_threshold=min_threshold,
                fanout=fanout,
                keep_expr=keep_expr,
            )
        if not new:
            break
        merged.extend(new)
        rounds += 1
    vacuumed = vacuum_dead_runs(store, min_age_s=vacuum_min_age_s)
    out = {
        "rounds": rounds,
        "merged_runs": merged,
        "runs_before": before,
        "runs_after": len(store.live_runs()),
        "vacuumed": vacuumed,
    }
    if strategy == "twcs":
        out["expired_dropped"] = expired
    return out
