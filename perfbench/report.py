"""The benchmark's result lines.

A single-workload run ends with the result line: one JSON object with
exactly ``correct``, ``attempted``, ``failed`` and ``metrics``, each
metric ``{"value", "unit"}``. ``--workload all`` ends with the report
line instead: each workload mapped to its metrics as
``{"value", "unit", "n"}``, plus ``nproc``, ``sf`` and ``seed``.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass

RESULT_KEYS = ("correct", "attempted", "failed", "metrics")


@dataclass
class Metric:
    value: float
    unit: str
    n: int = 1


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, Metric]) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": m.value, "unit": m.unit} for k, m in metrics.items()},
        }
    )


def check_result_line(line: str, names: list[str]) -> dict:
    """Parse a result line and raise ValueError unless it has the
    required shape and exactly the metrics in ``names``."""
    obj = json.loads(line)
    if not isinstance(obj, dict) or tuple(sorted(obj)) != tuple(sorted(RESULT_KEYS)):
        raise ValueError(f"result keys {sorted(obj) if isinstance(obj, dict) else obj!r}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct is not a bool")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError(f"{k} is not a whole number")
    if obj["attempted"] < 1 or obj["failed"] > obj["attempted"]:
        raise ValueError("attempted must be >= 1 and >= failed")
    if sorted(obj["metrics"]) != sorted(names):
        raise ValueError(f"metrics {sorted(obj['metrics'])} != {sorted(names)}")
    for name, m in obj["metrics"].items():
        if sorted(m) != ["unit", "value"] or not isinstance(m["unit"], str):
            raise ValueError(f"metric {name}: {m!r}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} value {v!r}")
    return obj


def report_line(workloads: dict[str, dict[str, Metric]], nproc: int, sf: float, seed: int) -> str:
    out: dict = {
        w: {k: {"value": m.value, "unit": m.unit, "n": m.n} for k, m in ms.items()}
        for w, ms in workloads.items()
    }
    out.update(nproc=nproc, sf=sf, seed=seed)
    return json.dumps(out)


def human_lines(workload: str, metrics: dict[str, Metric]) -> list[str]:
    return [f"{workload} {k} = {m.value:.6g} {m.unit} (n={m.n})" for k, m in metrics.items()]
