"""Connected components: chains, separate cliques, convergence —
both execution paths (driver union-find and distributed min-label
iteration) against the same expectations."""

from __future__ import annotations

import pytest

from distributed_mapreduce_spark.operators.components import connected_components

# driver_max_edges=0 forces the distributed iteration; the default
# takes the union-find shortcut. Same output contract for both.
PATHS = pytest.mark.parametrize(
    "driver_max", [0, None], ids=["distributed", "driver-unionfind"]
)


def _cc(edges, driver_max):
    kw = {} if driver_max is None else {"driver_max_edges": driver_max}
    return connected_components(edges, **kw)


@PATHS
def test_components_chain_and_cliques(spark, driver_max):
    # 1-2-3-4 chain (diameter > 1 forces multiple rounds), {10,11} pair,
    # {20,21,22} triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_i bigint, id_j bigint",
    )
    got = {r["id"]: r["component"] for r in _cc(edges, driver_max).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


@PATHS
def test_components_long_chain_converges(spark, driver_max):
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_i bigint, id_j bigint"
    )
    got = {r["id"]: r["component"] for r in _cc(edges, driver_max).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_components_chain_deeper_than_max_iters(spark):
    """Star contraction (r17) converges in O(log² n) rounds: a chain
    whose DIAMETER exceeds MAX_ITERS must still label correctly through
    the distributed path. The previous min-label propagation moved the
    minimum one hop per round, so this graph silently returned
    partially-converged labels at the 25-round cap."""
    n = 60  # diameter 59 > MAX_ITERS = 25
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_i bigint, id_j bigint"
    )
    got = {r["id"]: r["component"]
           for r in connected_components(edges, driver_max_edges=0).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


@PATHS
def test_components_self_loop_node_is_labeled(spark, driver_max):
    # A node whose ONLY edge is reflexive must still appear in the
    # output with its own label — both paths share this contract.
    edges = spark.createDataFrame(
        [(5, 5), (1, 2)], "id_i bigint, id_j bigint"
    )
    got = {r["id"]: r["component"] for r in _cc(edges, driver_max).collect()}
    assert got == {5: 5, 1: 1, 2: 1}


def test_components_boundary_picks_each_path(spark):
    # 3 undirected edges → sym holds 6 rows. driver_max_edges=3 keeps
    # the union-find shortcut (6 <= 2*3); 2 forces the distributed
    # iteration (6 > 2*2). Same answer either side of the threshold.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_i bigint, id_j bigint"
    )
    expect = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    at = {r["id"]: r["component"]
          for r in connected_components(edges, driver_max_edges=3).collect()}
    above = {r["id"]: r["component"]
             for r in connected_components(edges, driver_max_edges=2).collect()}
    assert at == expect
    assert above == expect


def test_components_frees_raw_edges_before_first_round_ends(spark, monkeypatch):
    """The raw edge checkpoint (`one`) has no reader once `nodes` and
    the first `cur` are materialized, so the distributed branch frees
    it before the first star round ends instead of holding it through
    every round."""
    from distributed_mapreduce_spark import caching

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_i bigint, id_j bigint"
    )
    before = caching.persistent_rdd_ids(spark)
    calls = []
    real = caching.unpersist_rdd_ids

    def spy(sp, ids, blocking=False):
        calls.append((frozenset(ids), caching.persistent_rdd_ids(sp)))
        real(sp, ids, blocking)

    monkeypatch.setattr(caching, "unpersist_rdd_ids", spy)
    out = connected_components(edges, driver_max_edges=0)
    # RDD ids are allocated in creation order and `one` is the first
    # checkpoint the operator makes
    one_id = min(set().union(*(live for _, live in calls)) - before)
    # the first star round ends by releasing the first `cur` generation
    round_one_end = next(live for ids, live in calls if one_id not in ids)
    assert one_id not in round_one_end
    caching.release_caches(out)
