"""Run one benchmark workload in a fresh Spark process.

    python3 perfbench/run.py --workload lsm_retention --seed 1 --seconds 10 --trace 0

Run from anywhere inside a checkout.  The workload sets up (session, then
its seeded inputs, twice, keeping the last; once when tracing, which
reports no setup_s), runs one smaller untimed cycle that warms the JVM up,
then timed cycles on fresh store roots until ``--seconds`` have passed (at
least one), checks every timed cycle's output outside the timed phase, and
prints a report followed by one JSON line: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics.  Set-up and cycles are measured in CPU seconds of the Spark JVM
plus this process, which a busy shared host moves far less than wall time;
wall times are report lines.  A traced run alternates traced and untraced
cycles; the wall-time difference between the two kinds is the tracing
overhead.  Exits 1 when an output check fails and 2 when the library is
missing.  Everything it writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit, except the span file of a traced run,
written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 2


def _workloads() -> dict:
    from wl_lsm import LsmRetention
    from wl_stream import CorpusStream

    return {w.name: w for w in (LsmRetention, CorpusStream)}


def instrument_append_run(tracer) -> None:
    """Span every RunStore.append_run call — the benchmark's and the
    drains' own — by wrapping the public method for this process."""
    from cassandra_util_spark.sources.runs import RunStore

    from benchlib import tree_bytes

    plain = RunStore.append_run

    def traced(self, *args, **kwargs):
        with tracer.span("sources.append_run") as sp:
            run = plain(self, *args, **kwargs)
        if sp is not None:
            sp["out_mb"] = tree_bytes(os.path.join(self.root, run)) / 2**20
        return run

    RunStore.append_run = traced


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("lsm_retention", "corpus_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import cassandra_util_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    from benchlib import Tracer, cpu_times, median, proc_cpu_s, steal_frac, vm_hwm_kb
    from harness import jobs_and_stages, jvm_pid, make_session, marks, pinned_rdds, stop_session
    from layers import layer_metrics

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    cpus = min(4, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    spark = None
    try:
        spark = make_session(cpus, work, bool(args.trace))
        jvm = jvm_pid(spark)

        def cpu_s() -> float:
            """CPU seconds the Spark JVM and this process have used so far."""
            return proc_cpu_s(jvm) + proc_cpu_s(os.getpid())

        session_s, session_cpu = time.perf_counter() - T_START, cpu_s()
        tracer = Tracer(f"{args.workload}-{args.seed}", marks=lambda: marks(spark))
        if args.trace:
            instrument_append_run(tracer)
        wl = _workloads()[args.workload](spark, args.seed, tracer)
        setup_wall, setup_cpu = [], []
        # only setup_s needs repeated set-ups; a traced run traces its one
        tracer.enabled = bool(args.trace)
        for r in range(1 if args.trace else SETUP_REPS):
            t, c = time.perf_counter(), cpu_s()
            wl.setup(os.path.join(work, f"in-{r}"))
            setup_wall.append(time.perf_counter() - t)
            setup_cpu.append(cpu_s() - c)

        # one untimed cycle first, so the fresh JVM's class loading, code
        # generation and JIT stay out of the timed cycles
        tracer.enabled = False
        t = time.perf_counter()
        wl.cycle(os.path.join(work, "warm-up"), warm=True)
        warm_s = time.perf_counter() - t

        runs = []
        ticks = cpu_times()
        t_timed = time.perf_counter()
        while len(runs) < (2 if args.trace else 1) or time.perf_counter() - t_timed < args.seconds:
            # traced cycles first: the per-layer figures then describe the
            # cycle position an untraced run times (the JIT is still warming,
            # so trace.overhead_s also holds the warming between the two)
            tracer.enabled = bool(args.trace) and len(runs) % 2 == 0
            c = cpu_s()
            with tracer.span("cycle"):
                res = wl.cycle(os.path.join(work, f"cycle-{len(runs)}"))
            res["cpu_s"] = cpu_s() - c
            runs.append((tracer.enabled, res))
        tracer.enabled = False
        timed_s = time.perf_counter() - t_timed
        steal = steal_frac(ticks, cpu_times())
        plain = [r for t, r in runs if not t]
        traced = [r for t, r in runs if t]

        t = time.perf_counter()
        errors = [e for _, res in runs for e in wl.check(res)]
        check_s = time.perf_counter() - t
        attempted = sum(res["ops"] for _, res in runs) + len(runs)

        extra = {}
        if args.trace:
            jobs, stages = jobs_and_stages(spark)
            metrics = layer_metrics(tracer.spans, jobs, stages, traced, pinned_rdds(spark))
            metrics["trace.overhead_s"] = (
                median(c["wall_s"] for c in traced) - median(c["wall_s"] for c in plain)
            )
            span_file = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json")
            os.makedirs(os.path.dirname(span_file), exist_ok=True)
            with open(span_file, "w") as f:
                json.dump(tracer.spans, f, indent=1)
        else:
            e2e, extra = wl.end_to_end(plain)
            extra = {
                "setup_wall_s": (session_s + median(setup_wall), "s"),
                "wall_s": (median(c["wall_s"] for c in plain), "s"),
                **extra,
            }
            metrics = {
                "setup_s": session_cpu + median(setup_cpu),
                "cpu_s": median(c["cpu_s"] for c in plain),
                **e2e,
                "peak_rss_mb": (vm_hwm_kb(jvm) + vm_hwm_kb(os.getpid())) / 1024,
            }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if sorted(metrics) != sorted(wanted):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(wanted))} disagree with BENCHMARK.json")

    print(f"perfbench {args.workload} seed={args.seed} cpus={cpus} spark={pyspark.__version__} "
          f"trace={args.trace} cycles={len(runs)}")
    print("inputs " + " ".join(f"{k}={v}" for k, v in wl.inputs().items()))
    print(f"phases session_s={session_s:.3f} set_ups_s={'/'.join(f'{x:.3f}' for x in setup_wall)} "
          f"warm_up_s={warm_s:.3f} timed_s={timed_s:.3f} check_s={check_s:.3f} "
          f"total_s={time.perf_counter() - T_START:.3f}")
    print("cycles " + " ".join(f"{res['wall_s']:.3f}s/{res['cpu_s']:.3f}cpu_s{'/traced' if t else ''}"
                               for t, res in runs) + f" host_steal={steal:.3f}")
    if args.trace:
        print(f"spans {len(tracer.spans)} written to {os.path.relpath(span_file, ROOT)}")
    for name, (value, unit) in extra.items():
        print(f"{name} = {value:.6g} {unit}")
    for name in wanted:
        print(f"{name} = {metrics[name]:.6g} {units[name]}")
    print(f"error_rate = {len(errors) / attempted:.6g} ratio ({len(errors)} of {attempted})")
    for e in errors:
        print(f"CHECK FAILED: {e}")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in wanted},
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
