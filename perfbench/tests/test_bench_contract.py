"""BENCHMARK.json names exactly the workloads and metrics the code emits."""

import json
from pathlib import Path

from perfbench.inputs import SHAPES
from perfbench.metrics import END_TO_END, PER_LAYER

SPEC = json.loads(
    (Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text()
)


def test_workloads_match():
    assert [w["name"] for w in SPEC["workloads"]] == list(SHAPES)


def test_metric_names_and_units_match():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER


def test_setup_metric_has_largest_bound():
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
