"""Smoke tests of the benchmark itself: ``python -m pytest perfbench -q``.

Each workload runs once per mode at tiny sizes; its output must name
exactly the metrics of BENCHMARK.json with their units. The correctness
checks must fail on a planted wrong expected value, the traced run's
coverage check on a planted span that no layer metric takes, and a
directory that holds only the benchmark must fail without printing a
result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import inputs, oracle, tracing
from perfbench.workloads import WORKLOADS, PimDelta

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


def test_spec_is_well_formed():
    spec = _spec()
    assert sorted(spec) == sorted(
        ["command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"]
    )
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    names = [m["name"] for kind in ("end_to_end", "per_layer") for m in spec[kind]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_reports_its_metrics(workload):
    spec = _spec()
    for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
        p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", trace, "--size", "tiny")
        assert p.returncode == 0, p.stderr[-4000:]
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
        assert result["correct"] is True and result["failed"] == 0
        assert result["attempted"] >= 2
        want = {m["name"]: m["unit"] for m in spec[kind]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    record = json.loads(lines[-2])["perfbench_record"]
    summary = record["trace_summary"]
    assert summary["coverage"]["ok"] and summary["unmapped_spans"] == []
    assert record["trace_overhead_frac"] is not None  # against the trace-0 run above


def test_bare_benchmark_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "pim_delta", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _delta_case():
    p = {"expected": {"midocean_PR1003": 12.5, "midocean_PN1000": None}, "total": 42}
    out = {
        "found": {"midocean_PR1003": 12.5, "midocean_PN1000": 3.0},
        "sync": {"products_in_gold": 42},
        "status": {"total_products": 42},
    }
    return p, out


def test_delta_check_accepts_right_and_rejects_planted_wrong_values():
    check = PimDelta(None, "", 1, tracing.Tracer(False), 40).check
    p, out = _delta_case()
    assert check(p, out) == []
    p["expected"]["midocean_PR1003"] = 13.0  # planted wrong price
    assert check(p, out)
    p, out = _delta_case()
    p["expected"]["midocean_PN1001"] = None  # a new master gold never got
    assert check(p, out)
    p, out = _delta_case()
    p["total"] = 43  # planted wrong total
    assert len(check(p, out)) == 2


def _span(sid, parent, name, t0, t1):
    return {"id": sid, "parent": parent, "name": name, "attrs": {}, "t0": t0, "t1": t1}


def test_coverage_rejects_a_span_no_layer_metric_takes():
    spans = [
        _span(0, None, "run", 0.0, 10.0),
        _span(1, 0, "op", 1.0, 5.0),
        _span(2, 1, "orchestrator.sync", 1.0, 4.0),
        _span(3, 2, "versioned.merge", 2.0, 3.0),
        _span(4, 1, "versioned.read", 4.0, 5.0),
    ]
    events = {"jobs": {}, "stages": {}, "progress": []}
    m, _ = tracing.layer_metrics(spans, events)
    assert m["versioned.merge_s"] == 1.0 and m["orchestrator.sync_self_s"] == 2.0
    assert tracing.coverage(spans, m)["ok"]
    spans[4]["name"] = "lookup"  # planted: no metric takes it
    m, artifact = tracing.layer_metrics(spans, events)
    assert artifact["unmapped_spans"] == ["lookup"]
    assert not tracing.coverage(spans, m)["ok"]
    spans[4]["name"] = "versioned.read"
    spans[2]["t1"] = spans[3]["t1"] = 2.0  # planted: the op's own time grows
    m, _ = tracing.layer_metrics(spans, events)
    assert not tracing.coverage(spans, m)["ok"]


def test_oracle_compare_rejects_a_planted_wrong_value():
    got = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert oracle.compare(got, got.iloc[::-1][["v", "k"]]) == []
    wrong = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert oracle.compare(got, wrong)
    assert oracle.compare(got, wrong.head(1))


def test_inputs_are_a_function_of_the_seed(tmp_path):
    for d in ("a", "b"):
        inputs.write_tables(str(tmp_path / d), 0.2, seed=3)
    for t in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / t).read_bytes() == (tmp_path / "b" / t).read_bytes()
    one, two = inputs.DeltaSource(40, 3), inputs.DeltaSource(40, 3)
    assert one.land(str(tmp_path / "d1"), 1, 1) == two.land(str(tmp_path / "d2"), 1, 1)
    other = inputs.DeltaSource(40, 4)
    assert one.land(str(tmp_path / "d3"), 1, 1) != other.land(str(tmp_path / "d4"), 1, 1)
