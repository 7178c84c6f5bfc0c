"""BENCHMARK.json agrees with the metrics the code reports."""

import json
import os
import re

from perfbench import layers, run

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _benchmark():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_well_formed():
    for table in (run.END_TO_END, layers.PER_LAYER):
        for name, unit in table.items():
            assert NAME.fullmatch(name), name
            assert UNIT.fullmatch(unit), unit


def test_benchmark_json_lists_exactly_the_reported_metrics():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.PER_LAYER
    assert {w["name"] for w in b["workloads"]} <= set(run.WORKLOADS)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
