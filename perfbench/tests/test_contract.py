"""BENCHMARK.json agrees with what the benchmark reports."""

import json
import os

from perfbench.report import END_TO_END, PER_LAYER, RATIO_BASES
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_lists_match_benchmark_json():
    b = _bench()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == PER_LAYER
    assert all(w["name"] in WORKLOADS for w in b["workloads"])


def test_every_ratio_is_reported_with_its_base():
    names = {n for n, _ in PER_LAYER}
    ratios = {n for n, u in PER_LAYER if u == "ratio"}
    assert ratios == set(RATIO_BASES)
    for r, base in RATIO_BASES.items():
        assert base in names, (r, base)


def test_setup_bound_is_the_largest():
    b = _bench()
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
