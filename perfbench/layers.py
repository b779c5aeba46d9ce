"""Per-layer metrics of a traced run, from its spans, the Spark status
API and the cycles' own results.  Every metric is reported for every
workload; a layer a workload never calls reports zero calls and zero work.
"""

from __future__ import annotations

from benchlib import lsq_slope, median, quantile
from harness import COUNT_KEYS, span_counts, window_counts

# spans the benchmark records, named <layer>.<call>
SPANS = (
    "sources.read_merged", "sources.compact", "sources.append_run",
    "operators.retention_run", "streaming.ingest", "streaming.encode",
    "streaming.windows", "operators.bpe_train",
)
RESOURCES = ("task_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
DRAINS = ("ingest", "encode", "windows")
LOOKUP_TAIL = 66


def _by_name(spans, jobs, stages) -> dict:
    """name -> {calls, s, jobs, ..., spans: [...]} summed over SELF counts."""
    out = {n: {"calls": 0, "s": 0.0, **dict.fromkeys(COUNT_KEYS, 0.0), "spans": []} for n in SPANS}
    for sp in spans:
        if sp["name"] not in out:
            continue
        agg = out[sp["name"]]
        agg["calls"] += 1
        agg["spans"].append(sp)
        for k, v in span_counts(sp, spans, jobs, stages).items():
            agg[k] += v
    return out


def _per(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(spans: list[dict], jobs: dict, stages: dict, cycles: list[dict],
                  pinned_end: int) -> dict:
    g = _by_name(spans, jobs, stages)
    m: dict = {}
    for name in SPANS:
        for r in RESOURCES:
            m[f"{name}.{r}"] = g[name][r]

    rm = g["sources.read_merged"]
    lookups = rm["spans"]
    m["sources.read_merged.calls"] = rm["calls"]
    m["sources.read_merged.jobs_per_call"] = _per(rm["jobs"], rm["calls"])
    frac = [x for c in cycles for x in c.get("scanned_frac", [])]
    m["sources.read_merged.runs_scanned_frac"] = sum(frac) / len(frac) if frac else 0.0
    m["sources.read_merged.rows_scanned_per_row"] = _per(
        rm["input_records"], sum(s["rows"] for s in lookups))
    lat = [(s["end"] - s["start"]) * 1000 for s in lookups]
    m["sources.read_merged.p50_ms"] = quantile(lat, 0.5) if lat else 0.0
    # the tail one traced lsm_retention cycle supports: tail_percentile(50)
    m[f"sources.read_merged.p{LOOKUP_TAIL}_ms"] = quantile(lat, LOOKUP_TAIL / 100) if lat else 0.0
    for part in ("build", "plan", "exec"):
        m[f"plans.{part}_ms"] = median(s[f"{part}_ms"] for s in lookups) if lookups else 0.0
    keep = [s for s in spans if s["name"] == "plans.keep_expr"]
    m["plans.keep_expr_ms"] = median((s["end"] - s["start"]) * 1000 for s in keep) if keep else 0.0

    c = g["sources.compact"]
    m["sources.compact.s"] = c["s"]
    m["sources.compact.jobs"] = c["jobs"]
    for k in ("runs_in", "runs_out", "rewrite_mb"):
        m[f"sources.compact.{k}"] = sum(s.get(k, 0) for s in c["spans"])

    a = g["sources.append_run"]
    m["sources.append_run.calls"] = a["calls"]
    m["sources.append_run.s"] = a["s"]
    m["sources.append_run.jobs"] = a["jobs"]
    m["sources.append_run.out_mb"] = sum(s.get("out_mb", 0) for s in a["spans"])

    r = g["operators.retention_run"]
    m["operators.retention_run.s"] = r["s"]
    m["operators.retention_run.jobs"] = r["jobs"]
    m["operators.retention_run.convicted_frac"] = (
        median(s["convicted_frac"] for s in r["spans"]) if r["spans"] else 0.0)

    for d in DRAINS:
        dr = g[f"streaming.{d}"]
        trig = [t for cy in cycles for t in cy.get("trig", {}).get(d, {}).values()]
        n = len(trig)
        m[f"streaming.{d}.trigger_p50_ms"] = quantile([t["triggerExecution"] for t in trig], 0.5) if n else 0.0
        m[f"streaming.{d}.machinery_ms"] = (
            quantile([t["triggerExecution"] - t.get("addBatch", 0) for t in trig], 0.5) if n else 0.0)
        # the drain's window includes the append_run spans nested in it
        jobs_in = sum(window_counts(s["job0"], s["job1"], 0, 0, jobs, stages)["jobs"] for s in dr["spans"])
        m[f"streaming.{d}.jobs_per_trigger"] = _per(jobs_in, n)
    ing = [cy for cy in cycles if "trig" in cy]
    m["streaming.ingest.index_rows_per_trigger"] = (
        median(cy["index_rows_per_trigger"] for cy in ing) if ing else 0.0)
    m["streaming.ingest.trigger_slope_ms"] = (
        median(lsq_slope([t["triggerExecution"] for _, t in sorted(cy["trig"]["ingest"].items())]) for cy in ing)
        if ing else 0.0)
    m["streaming.ingest.admitted_frac"] = median(cy["admitted_frac"] for cy in ing) if ing else 0.0

    b = g["operators.bpe_train"]
    m["operators.bpe_train.s"] = b["s"]
    m["operators.bpe_train.jobs"] = b["jobs"]
    m["operators.bpe_train.merges_per_s"] = _per(sum(s.get("merges", 0) for s in b["spans"]), b["s"])

    roots = [s for s in spans if s["name"] == "cycle"]
    core = dict.fromkeys(COUNT_KEYS, 0.0)
    for s in roots:
        for k, v in window_counts(s["job0"], s["job1"], s["stage0"], s["stage1"], jobs, stages).items():
            core[k] += v
    for k in ("jobs", "stages", "tasks", "gc_s"):
        m[f"core.{k}"] = core[k]
    m["core.pinned_rdds_end"] = pinned_end
    return m
