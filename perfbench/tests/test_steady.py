"""The two-run steadiness check."""

from __future__ import annotations

import json
import os

from perfbench import steady

SPEC = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "p50_ms", "unit": "ms", "better": "lower", "bound": 0.1},
    {"name": "ops_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
]


def _set(scale=1.0, setup=None, p50=None):
    return {
        "setup_s": setup or [10.0] * 10,
        "p50_ms": p50 or [100.0 * scale + i for i in range(10)],
        "ops_per_s": [5.0 / scale] * 10,
    }


def test_spread_is_iqr_over_median():
    # quantiles([1..9], n=4) -> 2.5, 5, 7.5
    assert steady.spread([float(x) for x in range(1, 10)]) == 1.0


def test_steady_sets_pass():
    assert steady.check([_set(), _set()], SPEC) == []


def test_wide_spread_fails_except_setup():
    wide = [50.0, 150.0] * 5
    problems = steady.check([_set(setup=wide, p50=wide)], SPEC)
    assert len(problems) == 1 and "p50_ms spread" in problems[0]


def test_drift_respects_direction():
    slower = steady.check([_set(), _set(scale=1.3)], SPEC)
    assert any("p50_ms: second median worse" in p for p in slower)
    assert any("ops_per_s: second median worse" in p for p in slower)
    assert steady.check([_set(), _set(scale=0.7)], SPEC) == []


def test_setup_drift_is_checked():
    problems = steady.check([_set(), _set(setup=[13.0] * 10)], SPEC)
    assert problems == ["setup_s: second median worse by 0.300 > bound 0.25"]


def test_benchmark_json_matches_the_runner():
    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
