"""Operational CLI — the `ALTER TABLE ... WITH compaction={...}` analog as a
job launcher.

    python -m cassandra_util_spark retention \
        --table /data/events --pk user_id --ck event_id --writetime writetime \
        --rules rules.json --mode ttl --default-ttl 2419200 \
        --backup /backups/events --store /snapshots/events [--dry-run]

    python -m cassandra_util_spark snapshots --root /snapshots/events [--vacuum N]

Rules JSON: [{"name": "r1", "columns": {"col": [["lo","hi"], [null,"5"]]},
"ttl": 300}, ...]  (null bound = unbounded; ttl only for --mode ttl).
"""

from __future__ import annotations

import argparse
import json
import sys

from cassandra_util_spark.core.session import get_spark
from cassandra_util_spark.core.table import KeyedTable
from cassandra_util_spark.operators.convictors import (
    RuleBasedDeletionConvictor,
    RuleBasedLateTTLConvictor,
)
from cassandra_util_spark.operators.retention import RetentionJob
from cassandra_util_spark.plans.rules import Range, Rule
from cassandra_util_spark.sources.snapshots import SnapshotStore


def load_rules_json(path: str) -> list[Rule]:
    with open(path) as f:
        raw = json.load(f)
    rules = []
    for r in raw:
        columns = {
            col: tuple(Range(None if lo is None else str(lo), None if hi is None else str(hi)) for lo, hi in ranges)
            for col, ranges in r["columns"].items()
        }
        rules.append(Rule(r["name"], columns, r.get("ttl")))
    return rules


def cmd_retention(args: argparse.Namespace) -> int:
    spark = get_spark("cassandra-util-spark-retention")
    spark.sparkContext.setLogLevel("WARN")
    table = KeyedTable.from_parquet(
        spark,
        args.table,
        args.pk.split(","),
        args.ck.split(",") if args.ck else [],
        args.writetime,
    )
    rules = load_rules_json(args.rules)
    if args.mode == "ttl":
        convictor = RuleBasedLateTTLConvictor(
            table, rules=rules, default_ttl=args.default_ttl, now_ms=args.now_ms
        )
    else:
        convictor = RuleBasedDeletionConvictor(table, rules=rules)
    store = SnapshotStore(args.store) if args.store else None
    job = RetentionJob(
        table, convictor, dry_run=args.dry_run, backup_path=args.backup, store=store
    )
    stats = job.run()
    print(
        json.dumps(
            {
                "kept": stats.kept,
                "convicted": stats.convicted,
                "dry_run": stats.dry_run,
                "spooked": stats.spooked,
                "warnings": stats.warnings,
                "rows_per_sec": round(stats.rows_per_sec, 1),
                "committed_version": stats.committed_version,
                "backup_path": stats.backup_path,
            }
        )
    )
    return 2 if stats.spooked and not args.dry_run else 0


def cmd_snapshots(args: argparse.Namespace) -> int:
    store = SnapshotStore(args.root)
    if args.vacuum is not None:
        removed = store.vacuum(keep_last=args.vacuum)
        print(json.dumps({"removed": removed, "current": store.current_version()}))
    else:
        rec = store._record()
        print(json.dumps({
            "current": rec["current"],
            "versions": [v["name"] for v in rec["versions"]],
            "meta": rec["meta"],
        }))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cassandra_util_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("retention", help="run a retention pass over a keyed parquet table")
    r.add_argument("--table", required=True, help="parquet path")
    r.add_argument("--pk", required=True, help="comma-separated partition key columns")
    r.add_argument("--ck", default="", help="comma-separated clustering key columns")
    r.add_argument("--writetime", default=None, help="writetime column (µs)")
    r.add_argument("--rules", required=True, help="rules JSON file")
    r.add_argument("--mode", choices=["delete", "ttl"], default="delete")
    r.add_argument("--default-ttl", type=int, default=None)
    r.add_argument("--now-ms", type=int, default=None, help="pin the TTL clock")
    r.add_argument("--dry-run", action="store_true")
    r.add_argument("--backup", default=None, help="backup dir for convicted rows")
    r.add_argument("--store", default=None, help="snapshot store root to commit into")
    r.set_defaults(fn=cmd_retention)

    s = sub.add_parser("snapshots", help="inspect or vacuum a snapshot store")
    s.add_argument("--root", required=True)
    s.add_argument("--vacuum", type=int, default=None, metavar="KEEP_LAST")
    s.set_defaults(fn=cmd_snapshots)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
