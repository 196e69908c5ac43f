"""Tests of the benchmark itself: every workload once on tiny inputs with
its checks on, one traced run, a deliberately corrupted output, and the
pure helpers. Run from anywhere: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import spans  # noqa: E402
from run import nearest_rank  # noqa: E402


def run_bench(workload: str, *extra: str, trace: int = 0) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--small", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run")), "run directory left behind"
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["stats_flow", "llm_curation", "lakehouse_dml", "olap_star"])
def test_workload_passes_its_checks(workload):
    res = run_bench(workload)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["end_to_end"]]
    assert sorted(res["metrics"]) == sorted(names)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_reports_every_per_layer_metric():
    res = run_bench("lakehouse_dml", trace=1)
    assert res["correct"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    m = res["metrics"]
    assert sorted(m) == sorted(names)
    assert m["sources.calls"]["value"] > 0 and m["streaming.calls"]["value"] > 0
    assert m["sources.jobs"]["value"] > 0
    assert 0 < m["sources.scan_bytes_fraction"]["value"] < 1
    assert m["sources.rewrite_rows_per_changed_row"]["value"] >= 1


# one operation per workload, covering each kind of output corrupt() alters:
# a model and a Row (stats_flow), a pandas frame (llm_curation, olap_star)
# and a tuple of aggregates (lakehouse_dml, four scans per pass)
@pytest.mark.parametrize(
    "workload,op,wrong",
    [
        ("stats_flow", "pipeline", 1),
        ("stats_flow", "mice", 1),
        ("llm_curation", "analyze_documents", 1),
        ("lakehouse_dml", "table_scan", 4),
        ("olap_star", "q1_pricing_summary", 1),
    ],
)
def test_corrupted_output_is_counted_as_failure(workload, op, wrong):
    res = run_bench(workload, "--corrupt", op)
    assert not res["correct"]
    assert res["failed"] == wrong and res["attempted"] >= 2


def test_inputs_are_a_function_of_the_seed():
    a = gen.star_schema(np.random.default_rng([3, 1]), 500)
    b = gen.star_schema(np.random.default_rng([3, 1]), 500)
    c = gen.star_schema(np.random.default_rng([4, 1]), 500)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    docs, truth = gen.documents(np.random.default_rng(0), 100, 0.1)
    assert docs.num_rows == 110 and len(truth) == 10
    assert all(dup >= 100 > src for dup, src in truth.items())


def test_enlarge_keeps_joins_aligned():
    t = gen.star_schema(np.random.default_rng(0), 400)
    big = gen.enlarge(t, 3)
    assert big["lineitem"].num_rows == 3 * t["lineitem"].num_rows
    orders = set(big["orders"]["o_orderkey"].to_pylist())
    assert set(big["lineitem"]["l_orderkey"].to_pylist()) <= orders


def test_interval_arithmetic():
    assert spans.merge([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert spans.subtract([(0, 10)], [(2, 3), (2.5, 4), (9, 12)]) == [(0, 2), (4, 9)]
    assert spans.length(spans.subtract([(0, 1)], [(0, 1)])) == 0


def test_nearest_rank():
    v = [float(x) for x in range(1, 11)]
    assert nearest_rank(v, 0.9) == 9.0
    assert nearest_rank(v, 0.5) == 5.0
    assert nearest_rank([2.0, 1.0], 0.9) == 2.0
