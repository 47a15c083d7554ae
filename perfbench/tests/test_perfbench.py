"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The smoke test runs every workload end to end on the repo's sf0.001
fixture tables (about a minute per run on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.tracing import Tracer, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SMOKE_SEED = 990001


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def _check_nesting(spans) -> None:
    """Children lie inside their parent, and self times add up to the
    root spans' durations."""
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
            assert p.op == s.op
    roots = sum(s.dur for s in spans if s.parent is None)
    assert sum(self_times(spans).values()) == pytest.approx(roots, abs=1e-6)


def test_spans_nest_and_self_times_sum_to_parent():
    tr = Tracer(True)
    for op in ("a", "b"):
        with tr.span("op", op):
            with tr.span("plans.build", op):
                time.sleep(0.01)
            with tr.span("exec.action", op):
                with tr.span("inner", op):
                    time.sleep(0.01)
                time.sleep(0.005)
    _check_nesting(tr.spans)
    selfs = self_times(tr.spans)
    action = next(s for s in tr.spans if s.name == "exec.action")
    assert selfs[action.id] == pytest.approx(0.005, abs=0.004)


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SMOKE_SEED), "--seconds", "1", "--trace", str(trace),
         "--fixtures", run.repo_fixtures("0.001")],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_sf0001_every_workload_passes_its_checks(workload):
    res = _smoke(workload, 0)
    assert res["failed"] == 0 and res["correct"] and res["attempted"] >= 1
    assert {k: m["unit"] for k, m in res["metrics"].items()} == run.END_TO_END


def test_smoke_traced_run_spans_nest():
    res = _smoke("pipeline_sf01", 1)
    assert res["failed"] == 0
    assert {k: m["unit"] for k, m in res["metrics"].items()} == PER_LAYER
    with open(os.path.join(run.OUT, f"pipeline_sf01-s{SMOKE_SEED}-t1.json")) as f:
        side = json.load(f)
    from perfbench.tracing import Span

    _check_nesting([Span(**s) for s in side["spans"]])
    table = side["per_layer_table"]
    assert sum(r["self_s"] for r in table.values()) == pytest.approx(
        table["op"]["total_s"], rel=1e-6)
