"""BENCHMARK.json and the metrics run.py prints name the same things."""

import json
import os

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_tail_reports_a_percentile_only_with_ten_samples_beyond_it():
    assert "p90" not in run._tail([1.0] * 99)
    assert "p90=" in run._tail([float(i) for i in range(100)])
    assert "n=3" in run._tail([3.0, 1.0, 2.0])
