"""BENCHMARK.json agrees with what run.py prints and obeys its format."""

import json
import os
import re

from perfbench import eventlog, worker

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match_the_worker():
    assert sorted(w["name"] for w in _bench()["workloads"]) == sorted(worker.WORKLOADS)


def test_end_to_end_metrics_match_the_printed_ones():
    e2e = {m["name"]: m for m in _bench()["end_to_end"]}
    assert set(e2e) == set(worker.E2E_METRICS)
    bounds = {k: m["bound"] for k, m in e2e.items()}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"


def test_per_layer_metrics_match_the_printed_ones():
    names = [m["name"] for m in _bench()["per_layer"]]
    printed = [f"{layer}.{m}" for layer in worker.LAYERS for m in eventlog.LAYER_METRICS]
    assert sorted(names) == sorted(printed + list(worker.RATIO_METRICS))


def test_names_units_and_keys_are_well_formed():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    seen = set()
    for group, keys in (("workloads", {"name", "why"}),
                        ("end_to_end", {"name", "unit", "better", "bound"}),
                        ("per_layer", {"name", "unit", "better"})):
        for m in b[group]:
            assert set(m) == keys
            assert NAME.match(m["name"]) and m["name"] not in seen
            seen.add(m["name"])
            if "unit" in m:
                assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
            if "why" in m:
                assert len(m["why"]) <= 200 and "\n" not in m["why"]
