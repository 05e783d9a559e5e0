"""Metric naming, the BENCHMARK.json contract, and summary statistics."""

import json
import re
from pathlib import Path

import numpy as np
import pytest

from perfbench import spec, stats
from perfbench.workloads import pairwise_f1

ROOT = Path(__file__).resolve().parents[2]
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_and_units_are_valid_and_unique():
    names = list(spec.END_TO_END) + list(spec.PER_LAYER)
    assert len(names) == len(set(names))
    for name, (unit, better, *_) in {**spec.END_TO_END, **spec.PER_LAYER}.items():
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), unit
        assert better in ("lower", "higher")
    assert 1 <= len(spec.PER_LAYER) <= 128


def test_benchmark_json_matches_spec():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert {w["name"]: w["why"] for w in bench["workloads"]} == spec.WORKLOADS
    assert all(len(w["why"]) <= 200 and set(w) == {"name", "why"}
               for w in bench["workloads"])
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    assert e2e == spec.END_TO_END
    assert all(0 < b <= 0.25 for _, _, b in e2e.values())
    assert e2e["setup_s"] == ("s", "lower", max(b for _, _, b in e2e.values()))
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layers == spec.PER_LAYER
    assert len((ROOT / "BENCHMARK.json").read_bytes()) <= 64 * 1024


def test_median_and_percentile():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    vs = list(np.random.default_rng(0).random(37))
    for p in (0, 25, 50, 90, 100):
        assert stats.percentile(vs, p) == pytest.approx(np.percentile(vs, p))
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize("n, want", [
    (1, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_summarize_reports_sample_count_and_tail():
    s = stats.summarize([5.0])
    assert s == {"value": 5.0, "n": 1}
    s = stats.summarize(range(100))
    assert s["n"] == 100 and s["tail"][0] == 90.0
    assert s["tail"][1] == pytest.approx(89.1)


def test_pairwise_f1():
    truth = {("a", "b"), ("a", "c"), ("b", "c")}
    assert pairwise_f1({"a": "a", "b": "a", "c": "a"}, truth) == 1.0
    # One predicted pair, right: precision 1, recall 1/3.
    assert pairwise_f1({"a": "a", "b": "a"}, truth) == pytest.approx(0.5)
    assert pairwise_f1({}, truth) == 0.0
    # Ordering of a predicted pair does not matter.
    assert pairwise_f1({"b": "x", "a": "x"}, {("a", "b")}) == 1.0
