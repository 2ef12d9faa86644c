"""Graph computations that share one implementation across operators or
call sites: the PageRank round (``pagerank`` / ``personalized_pagerank``)
and ``strongly_connected_components``' one driver site."""

from __future__ import annotations

import itertools
import random

from aleph2_contrib_spark.operators import graph

_group_ids = itertools.count()


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, the group
    id, whose jobs :func:`_group_jobs` counts)."""
    sc = spark.sparkContext
    gid = f"test-graph-shared-{next(_group_ids)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, gid


def _group_jobs(spark, gid):
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(gid))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ppr_with_every_node_seeded_equals_pagerank(spark):
    """Seeding every node restarts the teleport mass everywhere, which is
    global PageRank: the two operators agree row for row."""
    rnd = random.Random(11)
    pairs = {(f"n{rnd.randint(0, 39)}", f"n{rnd.randint(0, 39)}") for _ in range(150)}
    df = spark.createDataFrame(sorted(pairs), "src string, dst string")
    nodes = sorted({n for p in pairs for n in p})
    for iterations in (1, 4):
        want = _rows(graph.pagerank(df, iterations=iterations))
        got = _rows(graph.personalized_pagerank(df, nodes, iterations=iterations))
        assert got == want and len(got) == len(nodes)


# A DAG chain feeding the 3-cycle C1 = {10, 11, 12}, which feeds the
# 3-cycle C2 = {1, 2, 3}, which feeds a 2-vertex tail. Phase 1 trims the
# chain and the tail and settles C2 (the minimum reachable from and
# reaching C2 lies in C2); C1's minimum reachable vertex is 1, outside
# C1, so C1 is left for phase 2 with its 3 edges.
_CHAIN_INTO_CYCLES = (
    [(20, 21), (21, 22), (22, 23), (23, 24), (24, 10)]
    + [(10, 11), (11, 12), (12, 10), (12, 1)]
    + [(1, 2), (2, 3), (3, 1), (3, 30), (30, 31)]
)
_SCC_WANT = sorted(
    [(v, v) for v in (20, 21, 22, 23, 24, 30, 31)]
    + [(v, 10) for v in (10, 11, 12)]
    + [(v, 1) for v in (1, 2, 3)]
)


def test_scc_hands_over_to_the_driver_between_phases(spark, monkeypatch):
    """A cap between the phase-2 edge count (3) and the full edge count
    (14): phase 1 runs distributed, phase 2 solves the remaining subgraph
    on the driver, and the rows equal both single-lane runs."""
    df = spark.createDataFrame(_CHAIN_INTO_CYCLES, "src long, dst long")
    calls = []
    real = graph.collect_under

    def spy(frame, cap):
        out = real(frame, cap)
        calls.append(out is not None)
        return out

    monkeypatch.setattr(graph, "collect_under", spy)
    handoff = _rows(graph.strongly_connected_components(df, driver_trim_max_edges=5))
    assert calls[-1] and not any(calls[:-1]) and len(calls) >= 2
    monkeypatch.setattr(graph, "collect_under", real)
    driver = _rows(graph.strongly_connected_components(df))
    dist = _rows(graph.strongly_connected_components(df, driver_trim_max_edges=0))
    assert handoff == driver == dist == _SCC_WANT


def test_scc_under_the_cap_costs_one_bounded_collect(spark, monkeypatch):
    """Under the cap the whole solve runs on the driver: the call's only
    Spark jobs are those of its one bounded collect."""
    df = spark.createDataFrame(_CHAIN_INTO_CYCLES, "src long, dst long")
    collect_jobs = []
    real = graph.collect_under

    def spy(frame, cap):
        gid = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        before = _group_jobs(spark, gid)
        out = real(frame, cap)
        collect_jobs.append(_group_jobs(spark, gid) - before)
        return out

    monkeypatch.setattr(graph, "collect_under", spy)
    out, gid = _jobs(spark, lambda: graph.strongly_connected_components(df))
    assert len(collect_jobs) == 1
    assert _group_jobs(spark, gid) == collect_jobs[0] >= 1
    assert _rows(out) == _SCC_WANT
