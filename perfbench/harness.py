"""Spark-side plumbing of the benchmark: the session, file staging, job and
stage watermarks, the status REST reader and the per-span Spark counts."""

from __future__ import annotations

import json
import os
import time
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq

from benchlib import self_time


def make_session(cpus: int, work: str, trace: bool):
    """A fresh local[cpus] session whose every scratch path is under
    ``work``.  The status UI (and its REST API) runs only when tracing,
    with retention raised so none of the run's own jobs or stages are
    evicted before they are read."""
    from cassandra_util_spark.core.session import get_spark

    # the launcher's environment wins over spark.local.dir: pin it too; and
    # keep both JVMs (the launcher and Spark) from writing perf-data files
    # outside the work directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={work} -Dderby.system.home={work}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.ui.retainedTasks": "1000000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.sql.streaming.ui.retainedQueries": "1000",
            }
        )
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def marks(spark) -> tuple[int, int]:
    """(next job id, next stage id) of the session's DAG scheduler."""
    ds = spark.sparkContext._jsc.sc().dagScheduler()
    return int(ds.numTotalJobs()), int(ds.nextStageId())


def pinned_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def release(df) -> None:
    """Drop the blocks a ``df.localCheckpoint()`` frame pins."""
    df._jdf.logicalPlan().rdd().unpersist(False)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its parent's pipe closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def write_parquet(rows: list[tuple], schema: pa.Schema, path: str, mtime: float | None = None) -> int:
    """One parquet file holding ``rows``; returns its size.  ``mtime`` pins
    the file time, which orders a file-source stream's micro-batches."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return os.path.getsize(path)


def restage_runs(store, columns: list[str], out_dir: str, mtime0: float) -> None:
    """Copy each live run of ``store`` (one run per micro-batch, in batch
    order) into ONE parquet file under ``out_dir``, with ascending pinned
    mtimes, so the next drain sees one file per trigger."""
    os.makedirs(out_dir, exist_ok=True)
    for k, run in enumerate(store.live_runs()):
        table = pq.read_table(os.path.join(store.root, run), columns=columns)
        path = os.path.join(out_dir, f"shard-{k:03d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (mtime0 + k, mtime0 + k))


def file_stream(spark, schema: str, src: str):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )


def drain(query, timeout_s: float = 170.0) -> list[dict]:
    """Wait for an availableNow query and return its progress reports."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(f"drain {query.name} did not finish in {timeout_s}s")
    if query.exception() is not None:
        raise RuntimeError(f"drain {query.name} failed: {query.exception()}")
    return [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]


# --- the status REST API (traced runs only) -------------------------------


def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def jobs_and_stages(spark, timeout_s: float = 60.0) -> tuple[dict, dict]:
    """Every job and stage of the session, keyed by id, once the status
    store has caught up with the scheduler."""
    n_jobs, _ = marks(spark)
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = {j["jobId"]: j for j in _get(spark, "jobs")}
        done = all(
            jobs.get(i, {}).get("status") in ("SUCCEEDED", "FAILED") for i in range(n_jobs)
        )
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages: dict = {}
    for s in _get(spark, "stages"):
        stages.setdefault(s["stageId"], s)  # newest attempt first
    return jobs, stages


COUNT_KEYS = ("jobs", "stages", "tasks", "task_s", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "gc_s", "input_records")


def window_counts(j0: int, j1: int, s0: int, s1: int, jobs: dict, stages: dict) -> dict:
    """Spark counts of the jobs in [j0, j1) and the stages in [s0, s1)."""
    out = dict.fromkeys(COUNT_KEYS, 0.0)
    out["jobs"] = float(sum(1 for i in range(j0, j1) if i in jobs))
    for sid in range(s0, s1):
        s = stages.get(sid)
        if s is None or s.get("status") != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += s.get("numCompleteTasks", 0)
        out["task_s"] += s.get("executorRunTime", 0) / 1000
        out["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 2**20
        out["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
        out["spill_mb"] += s.get("diskBytesSpilled", 0) / 2**20
        out["gc_s"] += s.get("jvmGcTime", 0) / 1000
        out["input_records"] += s.get("inputRecords", 0)
    return out


def span_counts(span: dict, spans: list[dict], jobs: dict, stages: dict) -> dict:
    """A span's SELF counts — its window minus its direct children's — and
    its self time ``s``, so nested library calls are never counted twice."""
    def win(s):
        return window_counts(s["job0"], s["job1"], s["stage0"], s["stage1"], jobs, stages)

    own = win(span)
    for kid in (s for s in spans if s["parent"] == span["id"]):
        for k, v in win(kid).items():
            own[k] -= v
    own["s"] = self_time(span, spans)
    return own
