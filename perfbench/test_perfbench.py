"""Unit tests of the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

import os

import pytest

import gen
from benchlib import (
    Tracer,
    covered,
    lsq_slope,
    proc_cpu_s,
    quantile,
    self_time,
    space_amp,
    steal_frac,
    tail_percentile,
    tree_bytes,
    write_amp,
)
from layers import SPANS


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(60) == 83
    assert tail_percentile(20) == 50
    assert tail_percentile(19) is None
    assert tail_percentile(0) is None
    for n in (20, 37, 60, 100, 1000):
        p = tail_percentile(n)
        assert n * (100 - p) / 100 >= 10
        assert n * (100 - (p + 1)) / 100 < 10


def test_lookup_tail_has_ten_samples_beyond():
    import wl_lsm
    from layers import LOOKUP_TAIL

    assert tail_percentile(wl_lsm.N_LOOKUPS) == LOOKUP_TAIL


def test_quantile_matches_linear_interpolation():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert quantile(vals, 0.5) == 3.0
    assert quantile(vals, 0.0) == 1.0
    assert quantile(vals, 1.0) == 5.0
    assert quantile(vals, 0.9) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        quantile([], 0.5)


def test_tree_bytes_counts_every_file(tmp_path):
    (tmp_path / "r00001").mkdir()
    (tmp_path / "r00001" / "part-0.parquet").write_bytes(b"x" * 100)
    (tmp_path / "r00001" / "_STATS.json").write_bytes(b"y" * 10)
    (tmp_path / "_RUNS").write_bytes(b"z" * 5)
    assert tree_bytes(str(tmp_path)) == 115
    assert tree_bytes(str(tmp_path / "missing")) == 0


def test_amplification_ratios():
    assert write_amp(300, 100) == 3.0
    assert space_amp(150, 100) == 1.5
    with pytest.raises(ValueError):
        write_amp(1, 0)
    with pytest.raises(ValueError):
        space_amp(1, 0)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def _spans(tree):
    clock = iter(tree)
    tr = Tracer("t", clock=lambda: next(clock))
    tr.enabled = True
    with tr.span("root"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("b.inner"):
                pass
    return tr.spans


def test_self_time_subtracts_direct_children_only():
    # root [0, 10]; a [1, 3]; b [4, 9] holding b.inner [5, 8]
    spans = _spans([0, 1, 3, 4, 5, 8, 9, 10])
    root, a, b, inner = spans
    assert (a["parent"], b["parent"], inner["parent"]) == (root["id"], root["id"], b["id"])
    assert self_time(root, spans) == 10 - 2 - 5
    assert self_time(b, spans) == 5 - 3
    assert self_time(inner, spans) == 3


def test_disabled_tracer_records_nothing():
    tr = Tracer("t")
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


def test_lsq_slope():
    assert lsq_slope([1.0, 3.0, 5.0]) == pytest.approx(2.0)
    assert lsq_slope([4.0]) == 0.0


def test_steal_frac_is_steal_over_all_ticks():
    # user nice system idle iowait irq softirq steal guest guest_nice
    before = [100, 0, 20, 500, 0, 0, 0, 10, 7, 0]
    after = [160, 0, 30, 520, 0, 0, 0, 20, 99, 0]
    assert steal_frac(before, after) == pytest.approx(10 / 100)  # guest time excluded
    assert steal_frac(before, before) == 0.0


def test_proc_cpu_s_grows_with_work():
    t0 = proc_cpu_s(os.getpid())
    sum(i * i for i in range(2_000_000))
    assert proc_cpu_s(os.getpid()) > t0


def test_generators_are_deterministic_per_seed():
    assert gen.documents(3, 50) == gen.documents(3, 50)
    assert gen.documents(3, 50) != gen.documents(4, 50)
    assert gen.updates(3, 100, 3, 40) == gen.updates(3, 100, 3, 40)
    assert gen.updates(3, 100, 3, 40) != gen.updates(4, 100, 3, 40)
    assert gen.shards(3, 2, 20) == gen.shards(3, 2, 20)
    assert gen.lookups(3, 10, 100, 5) == gen.lookups(3, 10, 100, 5)


def test_updates_have_unique_writetimes_per_cell():
    batches = gen.updates(1, 200, 5, 300)
    seen = {}
    for rows in batches:
        cells = [(k, c) for k, c, *_ in rows]
        assert len(cells) == len(set(cells)) == 300
        for k, c, _, _, wt in rows:
            assert wt not in seen.setdefault((k, c), set())
            seen[(k, c)].add(wt)
    assert max(len(v) for v in seen.values()) > 1  # batches overlap


def test_shards_ascend_and_recrawl_history():
    sh = gen.shards(5, 3, 60)
    assert max(i for i, _ in sh[0]) < min(i for i, _ in sh[1])
    assert max(i for i, _ in sh[1]) < min(i for i, _ in sh[2])
    first = {t for _, t in sh[0]}
    assert any(t in first for _, t in sh[1] + sh[2])  # exact re-crawls


def test_benchmark_json_lists_every_layer_metric():
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {m["name"] for m in spec["per_layer"]}
    for span in SPANS:
        assert f"{span}.task_s" in names
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert "setup_s" in e2e and not names & e2e
