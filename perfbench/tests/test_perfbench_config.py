"""BENCHMARK.json names exactly the metrics run.py prints."""

import json
import os

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    assert [w["name"] for w in cfg["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in cfg["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in cfg["per_layer"]} == run.PER_LAYER
    assert len(cfg["per_layer"]) <= 128
    for m in cfg["per_layer"] + cfg["end_to_end"]:
        assert len(m["name"]) <= 64
