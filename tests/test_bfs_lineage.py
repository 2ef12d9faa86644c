"""The lineage rule of the distributed BFS-shaped operators: every level
(or peel round) is cut, so a deeper traversal does not grow the plan, and
the forced-distributed path still equals the driver path."""

from __future__ import annotations

import random

from aleph2_contrib_spark.operators import graph


def _leaves(df) -> int:
    return df._jdf.queryExecution().analyzed().collectLeaves().size()


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_betweenness_distributed_plan_is_linear_in_depth(spark):
    """A 60-pair random directed graph over 24 nodes: with every level
    cut, the analyzed plan at depth 3 has a handful of leaves (an uncut
    chain had 732), and depth 4 completes with the driver path's rows."""
    rng = random.Random(5)
    pairs = [(rng.randrange(24), rng.randrange(24)) for _ in range(60)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    srcs = [0, 1]
    plan3 = graph.betweenness_sampled(edges, srcs, max_depth=3, driver_cap_edges=0)
    assert _leaves(plan3) <= 8 * 3
    dist = graph.betweenness_sampled(edges, srcs, max_depth=4, driver_cap_edges=0)
    drv = graph.betweenness_sampled(edges, srcs, max_depth=4)
    assert _rows(dist) == _rows(drv) and len(_rows(drv)) > 2


def test_coreness_and_kcore_distributed_plans_stay_small(spark):
    """A 12-node path plus a K5, forced distributed: one h-index round
    per path step, yet the optimized plan stays under 1 MB (uncut, it
    doubled every round to 4.8 MB), and both peels equal the driver."""
    path = [(i, i + 1) for i in range(11)]
    k5 = [(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(path + k5, "src long, dst long")

    def plan_bytes(df):
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    dist = graph.coreness_decomposition(edges, driver_max_edges=0)
    assert plan_bytes(dist) < 1_000_000
    assert _rows(dist) == _rows(graph.coreness_decomposition(edges))

    kdist = graph.kcore_decomposition(edges, k=2, driver_max_edges=0)
    assert plan_bytes(kdist) < 1_000_000
    assert _rows(kdist) == _rows(graph.kcore_decomposition(edges, k=2))
