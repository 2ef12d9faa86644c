"""The driver-path seam (``operators.hybrid``) and the one cap rule every
hybrid operator follows through it."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from aleph2_contrib_spark.operators import dedup, graph, itemsets
from aleph2_contrib_spark.operators.hybrid import (
    collect_under,
    csr,
    index_nodes,
    successors,
)

_group_ids = itertools.count()


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, the number
    of Spark jobs it launched)."""
    sc = spark.sparkContext
    gid = f"test-hybrid-{next(_group_ids)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


# -- seam unit tests ---------------------------------------------------------


@pytest.mark.parametrize("kind", ["long", "string"])
def test_index_nodes_relabels_in_value_order(kind):
    conv = (lambda x: x) if kind == "long" else (lambda x: f"n{x:03d}")

    def arr(xs):
        return np.array([conv(x) for x in xs], dtype=np.int64 if kind == "long" else object)

    src, dst, seeds = arr((30, 10, 20, 10)), arr((10, 40, 30, 20)), arr((99, 10))
    nodes, si, di, ki = index_nodes(src, dst, seeds)
    assert list(nodes) == sorted({conv(x) for x in (10, 20, 30, 40, 99)})
    for idx, orig in ((si, src), (di, dst), (ki, seeds)):
        assert idx.dtype == np.int64
        assert list(nodes[idx]) == list(orig)
    # a seed absent from the edges still gets its own index
    assert nodes[ki[0]] == conv(99) and ki[0] not in set(si) | set(di)


def test_index_nodes_empty_array_keeps_id_dtype():
    nodes, si, di, ki = index_nodes(np.array([5, 3]), np.array([3, 7]), np.array([]))
    assert nodes.dtype == np.int64 and list(nodes) == [3, 5, 7]
    assert len(ki) == 0 and list(si) == [1, 0] and list(di) == [0, 2]


def test_successors_matches_python_adjacency():
    rng = np.random.default_rng(3)
    n = 25
    src = rng.integers(0, n, 120)
    dst = rng.integers(0, n, 120)
    indptr, nbrs = csr(src, dst, n)
    adj = {v: sorted(int(d) for s, d in zip(src, dst) if s == v) for v in range(n)}
    for v in range(n):
        assert list(nbrs[indptr[v] : indptr[v + 1]]) == adj[v]
    frontier = np.array([4, 0, 17, 4, 24], dtype=np.int64)
    got, lens = successors(indptr, nbrs, frontier)
    assert list(got) == [w for v in frontier for w in adj[int(v)]]
    assert list(lens) == [len(adj[int(v)]) for v in frontier]
    empty, elens = successors(indptr, nbrs, np.zeros(0, dtype=np.int64))
    assert len(empty) == 0 and len(elens) == 0


def test_collect_under_bounds(spark):
    df = spark.range(10).toDF("x")
    at_cap, jobs = _jobs(spark, lambda: collect_under(df, 10))
    assert sorted(at_cap["x"]) == list(range(10)) and jobs >= 1
    assert collect_under(df, 9) is None
    # cap 0 (or a missing cap) forces the distributed path without a job
    for cap in (0, None):
        out, jobs = _jobs(spark, lambda: collect_under(df, cap))
        assert out is None and jobs == 0


# -- one cap rule for every hybrid operator ----------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


_SMALL = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (2, 1), (5, 6), (6, 4)]

# operator -> call(edges, cap); every hybrid reaches its driver path through the seam
_USERS = {
    "triangle_count": lambda df, cap: graph.triangle_count(df, driver_cap_edges=cap),
    "bfs_levels": lambda df, cap: graph.bfs_levels(
        df, df.sparkSession.createDataFrame([(1,)], "node long"), driver_cap_edges=cap
    ),
    "kcore_decomposition": lambda df, cap: graph.kcore_decomposition(
        df, k=2, driver_max_edges=cap
    ),
    "coreness_decomposition": lambda df, cap: graph.coreness_decomposition(
        df, driver_max_edges=cap
    ),
    "lpa_communities": lambda df, cap: graph.lpa_communities(df, driver_cap_edges=cap),
    "link_prediction": lambda df, cap: graph.link_prediction(df, driver_cap_edges=cap),
    "sssp_weighted": lambda df, cap: graph.sssp_weighted(
        df.withColumn("w", df["src"] % 3 + 1),
        df.sparkSession.createDataFrame([(1,)], "node long"),
        driver_cap_edges=cap,
    ),
    "ktruss_decomposition": lambda df, cap: graph.ktruss_decomposition(
        df, k=3, driver_cap_edges=cap
    ),
    "landmark_closeness": lambda df, cap: graph.landmark_closeness(
        df, n_landmarks=2, max_hops=2, driver_cap_edges=cap
    ),
    "strongly_connected_components": lambda df, cap: graph.strongly_connected_components(
        df, driver_trim_max_edges=cap
    ),
    "shortest_path_counts": lambda df, cap: graph.shortest_path_counts(
        df, df.sparkSession.createDataFrame([(1,)], "node long"), driver_cap_edges=cap
    ),
    "betweenness_sampled": lambda df, cap: graph.betweenness_sampled(
        df, [1, 3], driver_cap_edges=cap
    ),
    "rectangle_count": lambda df, cap: graph.rectangle_count(df, driver_cap_edges=cap),
    "diameter_two_sweep": lambda df, cap: graph.diameter_two_sweep(
        df, driver_cap_edges=cap
    ),
    "connected_components": lambda df, cap: dedup.connected_components(
        df.select(df["src"].alias("id_a"), df["dst"].alias("id_b")), driver_max_edges=cap
    ),
    "frequent_itemsets": lambda df, cap: itemsets.frequent_itemsets(
        df.select(df["src"].alias("txn_id"), df["dst"].cast("string").alias("item")),
        driver_cap_rows=cap,
    ),
}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _fields(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


@pytest.mark.parametrize("name", sorted(_USERS))
def test_cap_rule_empty_input_same_on_both_paths(spark, name):
    """Cap 0 never takes the driver path, any positive cap does on an
    empty input, and both paths answer an empty graph with the same
    schema and rows."""
    call = _USERS[name]
    empty = _edges(spark, [])
    driver = call(empty, 1_000)
    dist = call(empty, 0)
    assert _fields(driver) == _fields(dist)
    assert _rows(driver) == _rows(dist)


@pytest.mark.parametrize("name", sorted(_USERS))
def test_driver_path_releases_its_cache(spark, name):
    """After a driver-path call (and collecting its result) no RDD it
    persisted is still registered: a driver path leaves nothing cached
    behind. (Compared as id sets, not counts: the context cleaner may
    drop other tests' checkpoints meanwhile.)"""
    sc = spark.sparkContext
    # ids unique to this case: an identical plan cached by another test
    # would share (and be evicted with) this call's cache entry
    off = 1_000 * (1 + sorted(_USERS).index(name))
    df = _edges(spark, [(a + off, b + off) for a, b in _SMALL])
    before = set(sc._jsc.getPersistentRDDs().keys())
    for _ in range(2):
        _USERS[name](df, 1_000).collect()
    assert set(sc._jsc.getPersistentRDDs().keys()) <= before


def test_landmark_closeness_cap_counts_undirected_edges(spark):
    """A graph of exactly ``driver_cap_edges`` undirected edges takes the
    driver path, even when its input lists edges in both directions:
    the call launches as many jobs as with a generous cap, and returns
    the distributed path's rows."""
    pairs = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 5), (5, 1), (5, 5)]
    df = _edges(spark, pairs)
    n_undirected = 5

    def call(cap):
        return lambda: graph.landmark_closeness(
            df, n_landmarks=2, max_hops=2, seed="cap", driver_cap_edges=cap
        )

    at_cap, jobs_at_cap = _jobs(spark, call(n_undirected))
    _, jobs_roomy = _jobs(spark, call(100 * n_undirected))
    _, jobs_below = _jobs(spark, call(n_undirected - 1))
    assert jobs_at_cap == jobs_roomy
    assert jobs_below != jobs_at_cap
    assert _rows(at_cap) == _rows(call(0)())
