"""Probe: split any registered query's wall time into build (Python/py4j
DataFrame construction), plan (analysis+optimization+physical planning),
and exec (noop write), for each query named on the command line (for
example ``embedding_rp_project ann_rp_rerank --reps 2`` for the
random-projection pair).

Usage: python scripts/probe_split.py <query> [query ...] [--reps N]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassandra_util_spark.core.session import get_spark
from cassandra_util_spark.entry_queries import QUERIES

argv = [a for a in sys.argv[1:] if not a.startswith("--")]
reps = 3
if "--reps" in sys.argv:
    reps = int(sys.argv[sys.argv.index("--reps") + 1])
    argv = [a for a in argv if a != str(reps)]

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("probe-split")
spark.sparkContext.setLogLevel("ERROR")
spark.read.parquet(f"{sf_dir}/documents.parquet").count()  # warm the scan

for name in argv:
    for rep in range(reps):
        t0 = time.monotonic()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.monotonic()
        df._jdf.queryExecution().executedPlan()
        t2 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.monotonic()
        print(
            f"{name} rep{rep}: build={t1 - t0:.2f}s plan={t2 - t1:.2f}s "
            f"exec={t3 - t2:.2f}s total={t3 - t0:.2f}s",
            flush=True,
        )
