"""Probe: does windows_doc_lookup's bin-bounded store read actually prune
runs (VERDICT r17 item 5)?  Rebuilds the query's exact fixture store, then
prints (a) the live runs with their bin stats, (b) the runs surviving
``prune_runs(lo_b, hi_b)``, and (c) the bounded read's formatted plan
BEFORE the caller's checkpoint — the PushedFilters evidence the final
query plan hides behind the checkpoint scan.

Usage: python scripts/probe_lookup_pruning.py
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cassandra_util_spark.core.session import get_spark

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("probe-lookup-pruning")
spark.sparkContext.setLogLevel("ERROR")

import cassandra_util_spark.entry_queries as eq

d, _, vocab, enc = eq._oov_frozen(spark, sf_dir)
mx = int(enc.agg(F.max("doc_id").alias("m")).first()["m"])
store = eq._drain_windows_store(
    spark, eq._ascending_id_shards(enc, mx=mx), "doc_id", capacity=1024,
    prefix="probe-look",
)
lo_d, hi_d = (2 * mx) // 5, (9 * mx) // 20
index = (
    store.read_merged(spark)
    .select(F.explode("doc_spans").alias("s"), "bin")
    .filter((F.col("s")["doc"] >= lo_d) & (F.col("s")["doc"] <= hi_d))
    .agg(F.min("bin").alias("lo"), F.max("bin").alias("hi"))
    .first()
)
lo_b, hi_b = int(index["lo"]), int(index["hi"])
stats = store.run_stats()
print(f"doc range [{lo_d}, {hi_d}] -> bin range [{lo_b}, {hi_b}]")
print("live runs and their bin stats:")
for r in store.live_runs():
    s = stats[r]["columns"].get("bin") or {}
    print(f"  {r}: bin [{s.get('min')}, {s.get('max')}]")
pruned = store.prune_runs(lo_b, hi_b)
print(f"prune_runs({lo_b}, {hi_b}) -> {pruned} "
      f"({len(store.live_runs()) - len(pruned)} of {len(store.live_runs())} "
      "runs skipped entirely)")

win = store.read_merged(spark, key_lower=lo_b, key_upper=hi_b)
plan = win._sc._jvm.PythonSQLUtils.explainString(
    win._jdf.queryExecution(), "formatted"
)
print("\nbounded read plan (pre-checkpoint):\n")
print(plan)
