"""lsm_retention: the paper's deleting compaction on one keyed run store.

One cycle: seeded overlapping update batches go in through
``RunStore.append_run``; ``RunStore.compact`` merges every fourth append
with a retention ``keep_expr`` from ``RuleBasedLateTTLConvictor``;
sequential bounded ``read_merged`` lookups read the store; one
``RetentionJob.run`` with a backup path into a ``SnapshotStore``, under
the same rules two hours later, ends it.
Writes, compaction and reads share the store, so a compaction change that
buys read speed with write amplification shows on both sides.  No text
operator runs: this is the control for tokenizer and dedup changes.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa

import gen
from benchlib import median, quantile, space_amp, tail_percentile, tree_bytes, write_amp
from harness import write_parquet

SCHEMA = pa.schema(
    [("key", pa.int64()), ("ck", pa.int32()), ("val", pa.int64()),
     ("tag", pa.string()), ("writetime", pa.int64())]
)
SPARK_SCHEMA = "key bigint, ck int, val bigint, tag string, writetime bigint"
COLS = "key, ck, val, tag, writetime"

N_KEYS = 20_000
N_BATCHES = 8
ROWS_PER_BATCH = 8_000
COMPACT_EVERY = 4
N_LOOKUPS = 30  # p66 has 10 samples beyond it
LOOKUP_WIDTH = 25  # keys per bounded read
CHECKED_LOOKUPS = 10
# the untimed warm-up cycle appends one compaction's worth of batches and
# makes a few lookups: enough to load and compile every code path
WARM_LOOKUPS = 3
# compaction runs N_BATCHES hours after T0: TTLs below cut into the history
NOW_MS = (gen.T0_US + N_BATCHES * gen.HOUR_US) // 1000
# retention runs two hours later, so it convicts rows compaction kept
RETAIN_MS = NOW_MS + 2 * gen.HOUR_US // 1000


def rules(n_keys: int) -> list[tuple[str, int, int, int]]:
    """(name, lo key, hi key, ttl seconds); TTL 0 purges the range."""
    return [
        ("short", 0, int(n_keys * 0.3) - 1, 4 * 3600),
        ("mid", int(n_keys * 0.3), int(n_keys * 0.6) - 1, 8 * 3600),
        ("purge", int(n_keys * 0.9), int(n_keys * 0.93), 0),
    ]


def convict_sql(n_keys: int, now_ms: int) -> str:
    """DuckDB form of the TTL convictor's predicate (plans/rules.py
    ttl_convict_expr: age = floor((now_ms - floor(wt / 1000)) / 1000))."""
    age = f"floor(({now_ms} - floor(writetime / 1000)) / 1000)"
    return " OR ".join(
        f"(key BETWEEN {lo} AND {hi} AND {age} > {ttl})" for _, lo, hi, ttl in rules(n_keys)
    )


class LsmRetention:
    name = "lsm_retention"

    def __init__(self, spark, seed: int, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer

    # -- set-up ------------------------------------------------------------

    def setup(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)
        batches = gen.updates(self.seed, N_KEYS, N_BATCHES, ROWS_PER_BATCH)
        self.files = []
        self.input_bytes = 0
        for b, rows in enumerate(batches):
            path = os.path.join(d, f"batch-{b:03d}.parquet")
            self.input_bytes += write_parquet(rows, SCHEMA, path)
            self.files.append(path)
        self.input_rows = sum(len(b) for b in batches)
        self.ranges = gen.lookups(self.seed, N_LOOKUPS, N_KEYS, LOOKUP_WIDTH)

    def inputs(self) -> dict:
        return {"rows": self.input_rows, "bytes": self.input_bytes,
                "batches": N_BATCHES, "lookups": N_LOOKUPS}

    # -- the timed cycle ---------------------------------------------------

    def cycle(self, root: str, warm: bool = False) -> dict:
        from cassandra_util_spark.core.table import KeyedTable, TableMeta
        from cassandra_util_spark.operators.convictors import RuleBasedLateTTLConvictor
        from cassandra_util_spark.operators.retention import RetentionJob
        from cassandra_util_spark.sources.runs import RunStore
        from cassandra_util_spark.sources.snapshots import SnapshotStore

        spark, tr = self.spark, self.tracer
        clock = time.perf_counter
        t_begin = clock()
        meta = TableMeta(("key",), ("ck",), "writetime")
        store = RunStore(os.path.join(root, "runs"), meta)
        read = lambda f: spark.read.schema(SPARK_SCHEMA).parquet(f)  # noqa: E731

        def convictor(now_ms):
            conv = RuleBasedLateTTLConvictor(
                KeyedTable(read(self.files[0]), meta), rules=rules_df, now_ms=now_ms
            )
            if conv.spooked:
                raise RuntimeError(f"retention rules spooked: {conv.warnings}")
            return conv

        with tr.span("plans.keep_expr"):
            rules_df = spark.createDataFrame(
                [(n, "key", (str(lo), str(hi)), ttl) for n, lo, hi, ttl in rules(N_KEYS)],
                "rulename string, column string, range struct<lo:string,hi:string>, ttl bigint",
            )
            keep_col = convictor(NOW_MS).keep_expr()

        def keep(df):
            return df.filter(keep_col)

        files = self.files[:COMPACT_EVERY] if warm else self.files
        append_s = compact_s = 0.0
        compact_rows = 0
        for i, f in enumerate(files):
            t = clock()
            store.append_run(read(f))
            append_s += clock() - t
            if (i + 1) % COMPACT_EVERY == 0:
                before = set(store.live_runs())
                rows_before = store.run_stats()
                with tr.span("sources.compact") as sp:
                    t = clock()
                    new = store.compact(spark, min_threshold=COMPACT_EVERY, keep_expr=keep)
                    compact_s += clock() - t
                consumed = before - set(store.live_runs())
                compact_rows += sum(rows_before[r]["rows"] for r in consumed)
                if sp is not None:
                    sp["runs_in"] = len(consumed)
                    sp["runs_out"] = len(new)
                    sp["rewrite_mb"] = sum(tree_bytes(os.path.join(store.root, r)) for r in new) / 2**20

        lat_ms, sampled, scanned_frac = [], [], []
        live = len(store.live_runs())
        ranges = self.ranges[:WARM_LOOKUPS] if warm else self.ranges
        for j, (lo, hi) in enumerate(ranges):
            with tr.span("sources.read_merged") as sp:
                t = clock()
                df = store.read_merged(spark, key_lower=lo, key_upper=hi)
                if sp is not None:  # split build / plan / exec in traced runs
                    t_b = clock()
                    df._jdf.queryExecution().executedPlan()
                    t_p = clock()
                rows = df.collect()
                t_e = clock()
            lat_ms.append((t_e - t) * 1000)
            if sp is not None:
                sp.update(build_ms=(t_b - t) * 1000, plan_ms=(t_p - t_b) * 1000,
                          exec_ms=(t_e - t_p) * 1000, rows=len(rows))
                scanned_frac.append(len(store.prune_runs(lo, hi)) / live)
            if j < CHECKED_LOOKUPS:
                sampled.append((lo, hi, [tuple(r[c] for c in ("key", "ck", "val", "tag", "writetime")) for r in rows]))

        snap = SnapshotStore(os.path.join(root, "snap"))
        backup = os.path.join(root, "backup")
        with tr.span("operators.retention_run") as sp:
            t = clock()
            stats = RetentionJob(
                KeyedTable(store.read_merged(spark), meta), convictor(RETAIN_MS),
                backup_path=backup, store=snap,
            ).run()
            retention_s = clock() - t
        wall = clock() - t_begin
        if sp is not None:
            sp["convicted_frac"] = stats.convicted / max(stats.total, 1)
        return {
            "wall_s": wall, "append_s": append_s, "compact_s": compact_s,
            "retention_s": retention_s, "compact_rows": compact_rows,
            "lat_ms": lat_ms, "sampled": sampled,
            "scanned_frac": scanned_frac, "stats": stats, "store": store,
            "snap": snap, "backup": backup, "root": root, "meta": meta,
            "ops": len(files) + len(files) // COMPACT_EVERY + len(ranges) + 2,
        }

    # -- output checks (outside the timed phase) ----------------------------

    def check(self, res: dict) -> list[str]:
        """The final snapshot, the backup and a sample of lookups against a
        DuckDB last-write-wins-plus-retention computation over the
        generated input: lookups see the rules applied at NOW_MS, the
        snapshot at RETAIN_MS, and the backup holds the rows that aged out
        in between.  Retention after LWW equals the engine's deleting
        compaction because every rule convicts all older versions of a
        cell whenever it convicts a newer one (same key, greater age)."""
        errs = []
        con = duckdb.connect()
        files = ", ".join(f"'{f}'" for f in self.files)
        con.execute(f"CREATE TABLE inp AS SELECT {COLS} FROM read_parquet([{files}])")
        con.execute(
            "CREATE TABLE lww AS SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
            "(PARTITION BY key, ck ORDER BY writetime DESC) rn FROM inp) WHERE rn = 1"
        )
        conv = convict_sql(N_KEYS, NOW_MS)
        later = convict_sql(N_KEYS, RETAIN_MS)
        con.execute(f"CREATE TABLE compacted AS SELECT * FROM lww WHERE NOT ({conv})")
        con.execute(f"CREATE TABLE expected AS SELECT * FROM compacted WHERE NOT ({later})")
        con.execute(f"CREATE TABLE convicted AS SELECT * FROM compacted WHERE {later}")
        snap = res["snap"].current_path()
        con.execute(f"CREATE TABLE actual AS SELECT {COLS} FROM read_parquet('{snap}/*.parquet')")
        con.execute(f"CREATE TABLE backup AS SELECT {COLS} FROM read_parquet('{res['backup']}/*.parquet')")

        def differ(a: str, b: str) -> tuple[int, int]:
            return con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})),"
                f" (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))"
            ).fetchone()

        extra, missing = differ("actual", "expected")
        if extra or missing:
            errs.append(f"final view differs from DuckDB LWW+retention: {extra} extra, {missing} missing")
        extra, missing = differ("backup", "convicted")
        if extra or missing:
            errs.append(f"backup differs from the rows retention convicts: {extra} extra, {missing} missing")
        stats = res["stats"]
        n_expected, n_convicted = con.execute(
            "SELECT (SELECT count(*) FROM expected), (SELECT count(*) FROM convicted)").fetchone()
        if (stats.kept, stats.convicted) != (n_expected, n_convicted):
            errs.append(f"retention kept {stats.kept} and convicted {stats.convicted}, "
                        f"expected {n_expected} and {n_convicted}")
        if stats.convicted == 0:
            errs.append("retention convicted no row")
        for lo, hi, rows in res["sampled"]:
            con.execute("CREATE OR REPLACE TABLE got (key BIGINT, ck INT, val BIGINT, tag VARCHAR, writetime BIGINT)")
            if rows:
                con.executemany("INSERT INTO got VALUES (?, ?, ?, ?, ?)", rows)
            bad = con.execute(
                "SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM inp)),"
                f" (SELECT count(*) FROM (SELECT * FROM got WHERE NOT ({conv}) EXCEPT ALL"
                f"   SELECT * FROM compacted WHERE key BETWEEN {lo} AND {hi})),"
                f" (SELECT count(*) FROM (SELECT * FROM compacted WHERE key BETWEEN {lo} AND {hi}"
                f"   EXCEPT ALL SELECT * FROM got WHERE NOT ({conv})))"
            ).fetchone()
            if any(bad):
                errs.append(f"lookup [{lo}, {hi}] differs from DuckDB: {bad}")
        con.close()
        return errs

    # -- metrics --------------------------------------------------------------

    def amplification(self, res: dict) -> dict:
        """write_amp over every byte written under the store roots; space_amp
        of the live runs against the merged view written once (outside the
        timed phase)."""
        from cassandra_util_spark.core.table import KeyedTable

        store = res["store"]
        written = sum(tree_bytes(os.path.join(res["root"], d)) for d in ("runs", "snap", "backup"))
        once = os.path.join(res["root"], "merged-once")
        KeyedTable(store.read_merged(self.spark), res["meta"]).clustered().write.parquet(once)
        live = sum(tree_bytes(os.path.join(store.root, r)) for r in store.live_runs())
        return {"write_amp": write_amp(written, self.input_bytes),
                "space_amp": space_amp(live, tree_bytes(once))}

    def end_to_end(self, cycles: list[dict]) -> tuple[dict, dict]:
        lat = [x for c in cycles for x in c["lat_ms"]]
        amp = [self.amplification(c) for c in cycles]
        compact_rate = [
            (c["compact_rows"] + c["stats"].total) / (c["compact_s"] + c["retention_s"])
            for c in cycles
        ]
        e2e = {"write_amp": median(a["write_amp"] for a in amp)}
        tail = tail_percentile(len(lat))
        extra = {
            "ingest_rows_per_s": (median(self.input_rows / c["append_s"] for c in cycles), "rows/s"),
            "read_p50_ms": (quantile(lat, 0.5), "ms"),
            f"read_p{tail}_ms": (quantile(lat, tail / 100), "ms"),
            "read_samples": (len(lat), "count"),
            "compact_rows_per_s": (median(compact_rate), "rows/s"),
            "space_amp": (median(a["space_amp"] for a in amp), "ratio"),
        }
        return e2e, extra
