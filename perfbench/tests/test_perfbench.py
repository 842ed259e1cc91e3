"""Tests of the benchmark itself (no engine performance is measured here).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from argparse import Namespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from inputs import AmrSpec, RmatSpec, amr_pairs, perturb_penman  # noqa: E402
from tracing import PeakRss, Span, Tracer  # noqa: E402
from workloads import WORKLOADS, RmatLinkGraph  # noqa: E402


# -- inputs -------------------------------------------------------------------

def test_amr_pairs_same_seed_identical_other_seed_different():
    spec = AmrSpec(n_pairs=60, max_nodes=12)
    first = json.dumps(amr_pairs(spec, 3)).encode()
    assert first == json.dumps(amr_pairs(spec, 3)).encode()
    assert first != json.dumps(amr_pairs(spec, 4)).encode()
    # each operation of a run gets its own input
    assert first != json.dumps(amr_pairs(spec, 3, 1)).encode()


def test_amr_pairs_have_self_slice_and_perturbed_rest():
    rows_a, rows_b, self_ids = amr_pairs(AmrSpec(n_pairs=400, max_nodes=12), 1)
    assert self_ids
    same = {pid for (pid, a), (_, b) in zip(rows_a, rows_b) if a == b}
    assert set(self_ids) <= same
    # most non-self pairs differ, so F1 lands below 100
    assert len(same) < len(rows_a) / 2


def test_amr_pairs_are_pinned():
    # the A side comes from the program's corpus generator: a change there
    # changes the benchmark's inputs, and must show up here
    blob = json.dumps(amr_pairs(AmrSpec(n_pairs=200, max_nodes=12), 1)).encode()
    assert hashlib.sha256(blob).hexdigest() == (
        "774ba2a3cdaa545b0d54207766743035a8e22e1da253cbcb3552b7ba2fdfbcac"
    )


def test_perturb_keeps_brackets_balanced(monkeypatch):
    import random

    monkeypatch.setattr(inputs, "P_DROP", 0.5)
    monkeypatch.setattr(inputs, "P_ADD", 0.5)
    rows_a, _, _ = amr_pairs(AmrSpec(n_pairs=50, max_nodes=30), 2)
    for _, text in rows_a:
        out = perturb_penman(text, random.Random(text))
        assert out.count("(") == out.count(")")


@pytest.fixture(scope="module")
def spark():
    from smatchpp_spark import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
    yield s


def _edges(spark, seed: int) -> list[list[tuple[int, int]]]:
    wl = RmatLinkGraph(RmatSpec(scale=8, n_edges=1024))
    wl.generate(spark, seed, 2, Tracer(None, "t"))
    return [sorted(tuple(r) for r in df.collect()) for df in wl.inputs]


def test_rmat_input_same_seed_identical_other_seed_different(spark):
    first = _edges(spark, 5)
    assert first == _edges(spark, 5)
    assert first != _edges(spark, 6)
    assert first[0] != first[1]
    for edges in first:
        assert all(s != d for s, d in edges)
        assert len(set(edges)) == len(edges)


def test_rmat_input_is_pinned(spark):
    # the edges come from the program's ``sources.rmat``: a change there
    # changes the benchmark's inputs, and must show up here
    blob = json.dumps(_edges(spark, 5)).encode()
    assert hashlib.sha256(blob).hexdigest() == (
        "f01b214b103a60f5f1953d6b5661973de78bf3a06cea32c76e309bfa4e85f818"
    )


# -- metric names ---------------------------------------------------------------

def _fake_run(workload: str, trace: int) -> run.Run:
    r = run.Run(Namespace(workload=workload, seed=1, seconds=1, trace=trace), tmp="")
    r.setup_s, r.session_start_s = 2.0, 1.0
    r.fused_walls, r.traced_walls = [3.0], [4.0]
    tr = Tracer(None, "fake")
    tr.spans.append(Span(0, "rmat", None, "fake", 0.0, 1.0, counts={"rmat.edges": 10}))
    tr.spans.append(Span(1, "op", None, "fake", 1.0, 5.0))
    for i, name in enumerate(run.SPAN_TIMES, start=2):
        tr.spans.append(Span(i, name, 1, "fake", 1.0, 1.5, spark_jobs=1, spark_tasks=4))
    r.tracer = tr
    r.traced_counts = [{name: 1.0 for name in run.TRACE_COUNTS}]
    r.heap_peaks = {"G1 Eden Space": 100.0, "G1 Old Gen": 50.0}
    return r


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_printed_metric_names_equal_benchmark_json(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    e2e = _fake_run(workload, 0).end_to_end(peak_rss=2**30)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    layer = _fake_run(workload, 1).per_layer()
    assert set(layer) == {m["name"] for m in spec["per_layer"]}
    assert set(run.declared_metrics("per_layer")) == set(layer)


# -- output checks ----------------------------------------------------------------

def _good_scores():
    stats = np.array([[8, 8, 10, 9], [5, 5, 5, 5], [0, 0, 3, 4], [6, 6, 6, 6]], dtype=float)
    ids = ["p0", "p1", "p2", "p3"]
    micro = tuple(round(100 * float(v), 2) for v in checks.fpr(stats.sum(axis=0)))
    macro = tuple(round(100 * float(v.mean()), 2) for v in checks.fpr(stats))
    return stats, ids, micro, macro, ["p1", "p3"]


def test_score_check_passes_on_correct_output():
    stats, ids, micro, macro, self_ids = _good_scores()
    assert checks.check_scores(stats, ids, micro, macro, self_ids, 4) == []


@pytest.mark.parametrize("corrupt", ["micro", "macro", "matchsum", "self_pair", "missing_pair"])
def test_score_check_fails_on_corrupted_output(corrupt):
    stats, ids, micro, macro, self_ids = _good_scores()
    if corrupt == "micro":
        micro = (micro[0] + 0.5,) + micro[1:]
    elif corrupt == "macro":
        macro = macro[:2] + (macro[2] - 0.02,)
    elif corrupt == "matchsum":
        stats[0, 0] = 10  # > min(xlen=10, ylen=9)
    elif corrupt == "self_pair":
        stats[3] = [5, 5, 6, 6]
    else:
        stats, ids = stats[:3], ids[:3]
    if corrupt in ("matchsum", "self_pair"):
        # keep the aggregates consistent so only the targeted check can fire
        micro = tuple(round(100 * float(v), 2) for v in checks.fpr(stats.sum(axis=0)))
        macro = tuple(round(100 * float(v.mean()), 2) for v in checks.fpr(stats))
    assert checks.check_scores(stats, ids, micro, macro, self_ids, 4)


def test_interval_check():
    assert checks.check_interval(89.0, 93.5, "ci") == []
    assert checks.check_interval(93.5, 89.0, "ci")
    assert checks.check_interval(-1.0, 50.0, "ci")


def _graph():
    # two triangles sharing vertex 3, a tail 5-6, a separate edge 10-11,
    # plus a duplicate in reverse and a self-loop
    src = np.array([1, 2, 3, 3, 4, 5, 5, 10, 2, 7], dtype=np.int64)
    dst = np.array([2, 3, 1, 4, 5, 3, 6, 11, 1, 7], dtype=np.int64)
    return src, dst


def test_oracles_on_a_known_graph():
    src, dst = _graph()
    assert checks.component_count(src, dst) == 3  # {1..6}, {10, 11}, {7}
    assert checks.triangle_total(src, dst) == 2


def test_linkgraph_check_passes_on_correct_output():
    src, dst = _graph()
    assert checks.check_linkgraph(src, dst, 1.0 - 1e-12, 3, 2) == []


@pytest.mark.parametrize("corrupt", ["mass", "components", "triangles"])
def test_linkgraph_check_fails_on_corrupted_output(corrupt):
    src, dst = _graph()
    mass, cc, tri = 1.0, 3, 2
    if corrupt == "mass":
        mass = 1.0 + 1e-7
    elif corrupt == "components":
        cc = 4
    else:
        tri = 3
    assert checks.check_linkgraph(src, dst, mass, cc, tri)


# -- tracing ------------------------------------------------------------------------

def test_self_time_subtracts_children():
    tr = Tracer(None, "t")
    tr.spans = [
        Span(0, "op", None, "t", 0.0, 10.0),
        Span(1, "a", 0, "t", 1.0, 4.0),
        Span(2, "b", 0, "t", 4.0, 6.0),
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(5.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(3.0)


def test_spans_nest_and_are_written(tmp_path):
    tr = Tracer(None, "run-x")
    with tr.span("op"):
        with tr.span("inner"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    path = tmp_path / "t.json"
    tr.write(str(path))
    spans = json.loads(path.read_text())["spans"]
    assert {s["name"] for s in spans} == {"op", "inner"}
    assert all(s["run_id"] == "run-x" for s in spans)


def test_peak_rss_sees_this_process():
    with PeakRss(interval=0.01) as rss:
        block = bytearray(64 << 20)
        time.sleep(0.1)
    assert rss.peak >= len(block)


def test_peak_rss_skips_single_sample_excursions(monkeypatch):
    readings = iter([100, 5000, 100, 200, 200, 150])
    monkeypatch.setattr(tracing, "tree_rss_bytes", lambda root: next(readings))
    rss = PeakRss()
    for _ in range(6):
        rss._sample()
    assert rss.peak == 200
