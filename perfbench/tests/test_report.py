import json
import math
import os
import re

import pytest

from perfbench.report import Metric, check_result_line, report_line, result_line

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAMES = ["job_s", "setup_s"]


def line(**over):
    metrics = {"job_s": Metric(6.4526, "s", 2), "setup_s": Metric(1.5427, "s", 3)}
    args = {"correct": True, "attempted": 3, "failed": 0, "metrics": metrics, **over}
    return result_line(**args)


def test_result_line_round_trips():
    obj = check_result_line(line(), NAMES)
    assert obj == {
        "correct": True,
        "attempted": 3,
        "failed": 0,
        "metrics": {"job_s": {"value": 6.4526, "unit": "s"}, "setup_s": {"value": 1.5427, "unit": "s"}},
    }


@pytest.mark.parametrize(
    "bad",
    [
        lambda s: s.replace('"failed": 0', '"failed": 0, "extra": 1'),
        lambda s: s.replace('"attempted": 3', '"attempted": 0'),
        lambda s: s.replace('"attempted": 3', '"attempted": 3.0'),
        lambda s: s.replace('"correct": true', '"correct": 1'),
        lambda s: s.replace('"value": 6.4526', '"value": "6.4526"'),
        lambda s: s.replace('"unit": "s"}}', '"unit": "s", "n": 3}}'),
    ],
)
def test_result_line_shape_violations_rejected(bad):
    with pytest.raises(ValueError):
        check_result_line(bad(line()), NAMES)


def test_result_line_needs_exactly_the_named_metrics():
    with pytest.raises(ValueError):
        check_result_line(line(), NAMES + ["docs_per_s"])
    with pytest.raises(ValueError):
        check_result_line(line(metrics={"job_s": Metric(math.nan, "s")}), ["job_s"])


def test_report_line_maps_workloads_to_value_unit_n():
    obj = json.loads(report_line({"extract_full": {"job_s": Metric(6.45, "s", 2)}}, 4, 0.05, 42))
    assert obj == {
        "extract_full": {"job_s": {"value": 6.45, "unit": "s", "n": 2}},
        "nproc": 4,
        "sf": 0.05,
        "seed": 42,
    }


def test_benchmark_json_within_its_limits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert sorted(spec) == ["command", "end_to_end", "paths", "per_layer", "run_seconds", "workloads"]
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert all(name.match(n) for n in names)
    assert len(set(names)) == len(names)
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(sorted(w) == ["name", "why"] and len(w["why"]) <= 200 for w in spec["workloads"])
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert all(sorted(m) == ["better", "bound", "name", "unit"] for m in e2e.values())
    assert all(unit.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert 1 <= spec["run_seconds"] <= 60 and isinstance(spec["run_seconds"], int)
    for p in spec["paths"]:
        assert os.path.isdir(os.path.join(ROOT, p)) and not p.startswith("/") and ".." not in p
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
