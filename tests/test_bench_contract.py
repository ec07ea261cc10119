"""Driver contract of bench.py: the full record and the compact last
line it prints. Spark-free — bench.py is loaded as a module and its
record builder is fed literal per-pass samples."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(bench)

SAMPLES = {
    "q_b": [2.5, 2.0, 2.25],
    "q_a": [1.2345, 1.5, 1.1111],
    "q_c": [0.3, 0.4, 0.6],
}
MINIMA = {"q_a": 1.111, "q_b": 2.0, "q_c": 0.3}
PASS_LOADS = [0.52, 1.7, 3.04]


def _records(tier="registered", cpus=4):
    return bench.contract_records(
        SAMPLES, tier, 0.1, PASS_LOADS, cpus, (1.234, 2.0, 3.456)
    )


def test_compact_line_carries_the_contract_keys():
    _full, compact, _files = _records()
    assert set(compact) == {
        "metric", "value", "unit", "queries", "total_s", "sf", "passes",
        "cpus", "load_avg", "pass_loads", "full_artifact",
    }
    assert compact["metric"] == "total_query_set_runtime"
    assert compact["unit"] == "sec"
    assert compact["sf"] == 0.1
    assert compact["cpus"] == 4
    assert compact["load_avg"] == [1.23, 2.0, 3.46]
    assert compact["pass_loads"] == PASS_LOADS
    # one JSON line, and it round-trips unchanged
    line = json.dumps(compact)
    assert "\n" not in line and json.loads(line) == compact


def test_queries_are_per_query_minima_and_value_is_their_sum():
    full, compact, _files = _records()
    for rec in (full, compact):
        assert rec["queries"] == MINIMA
        assert list(rec["queries"]) == sorted(MINIMA)
        assert rec["value"] == round(sum(MINIMA.values()), 3)
    assert compact["total_s"] == compact["value"]
    assert full["value"] == compact["value"]


def test_passes_equal_sample_count():
    full, compact, _files = _records()
    assert full["passes"] == compact["passes"] == 3
    one = {n: v[:1] for n, v in SAMPLES.items()}
    full1, compact1, _ = bench.contract_records(one, "registered", 0.01, [0.1], 4, (0, 0, 0))
    assert full1["passes"] == compact1["passes"] == 1
    assert set(full1["spread"].values()) == {1.0}


def test_full_record_spread_samples_and_loads():
    full, _compact, _files = _records()
    assert full["spread"] == {
        "q_a": round(1.5 / 1.1111, 2),
        "q_b": 1.25,
        "q_c": 2.0,
    }
    assert full["samples"]["q_a"] == [1.234, 1.5, 1.111]
    assert full["pass_loads"] == PASS_LOADS
    assert all(isinstance(x, float) for x in full["pass_loads"])
    assert full["load_avg"] == [1.23, 2.0, 3.46]
    assert {"spread", "samples", "methodology"} <= set(full)


@pytest.mark.parametrize(
    "tier, metric, stable",
    [
        ("registered", "total_query_set_runtime", "bench_last.json"),
        ("shadow", "shadow_query_set_runtime", "bench_shadow_last.json"),
    ],
)
def test_artifact_names_per_tier(tier, metric, stable):
    full, compact, files = _records(tier=tier, cpus=32)
    per_run = f"bench_{tier}_c32.json"
    assert files == (stable, per_run)
    assert compact["full_artifact"] == per_run
    assert full["metric"] == compact["metric"] == metric
