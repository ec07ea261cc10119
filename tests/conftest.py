from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Test tiers (VERDICT r16 #5): the FULL suite takes ~30-45 min, which
# exceeds the round driver's verify budget — its `pytest tests/ -x -q`
# was truncated mid-run two rounds straight, losing the green signal.
# The DEFAULT tier must finish well inside that window (~8-10 min), so
# the heavy batteries — the parametrized shadow-tier oracle parities,
# the multi-minute streamed≡one-shot/compaction sink replays and the
# hypothesis property folds — are marked `full_tier` and SKIP unless
# DMR_FULL_TESTS=1. The registry-wide plan guards stay in the default
# tier. The skipped batteries are not second-class: the full tier
# (DMR_FULL_TESTS=1 python -m pytest tests/ -q) runs them, and each
# guards semantics that the default tier still smoke-covers with a
# cheaper representative (e.g. registered-tier parity stays default;
# one sink e2e stays default).
FULL_TESTS = os.environ.get("DMR_FULL_TESTS") == "1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full_tier: heavy battery, skipped unless DMR_FULL_TESTS=1 "
        "(driver verify-budget fit — see conftest)",
    )


def pytest_collection_modifyitems(config, items):
    if FULL_TESTS:
        return
    skip = pytest.mark.skip(
        reason="full-tier battery: set DMR_FULL_TESTS=1 to run"
    )
    for item in items:
        if item.get_closest_marker("full_tier"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from distributed_mapreduce_spark.session import get_spark

    # local[4, 2]: 4 threads, maxFailures=2 — lets the fault-injection
    # test (test_mapreduce.py::test_crash_retry_matches_golden) kill
    # first task attempts and still converge; no effect on tests that
    # never fail a task.
    spark = get_spark(app_name="dmr-tests", master="local[4, 2]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
