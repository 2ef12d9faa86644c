"""Graph decompose + merge tests (SURVEY §2.5, FIXTURES.md §3)."""

import pytest
from pyspark.sql import Row

from aleph2_contrib_spark.operators.graph import (
    DecompElement,
    build_graph,
    decompose,
    merge_vertices,
    resolve_edges,
)

EL = [DecompElement(from_fields=["src_ip"], to_fields=["dst_ip"], edge_name="connects", from_type="ip", to_type="ip")]


@pytest.fixture()
def records(spark):
    return spark.createDataFrame(
        [
            Row(_id="1", src_ip="10.0.0.1", dst_ip="10.0.0.2", bytes=100),
            Row(_id="2", src_ip="10.0.0.1", dst_ip="10.0.0.2", bytes=200),  # dup edge
            Row(_id="3", src_ip="10.0.0.2", dst_ip="10.0.0.3", bytes=300),
            Row(_id="4", src_ip="10.0.0.4", dst_ip="10.0.0.4", bytes=50),  # self-loop
            Row(_id="5", src_ip=None, dst_ip="10.0.0.9", bytes=1),  # null endpoint
        ]
    )


def test_decompose_vertices_dedup(spark, records):
    v, e = decompose(records, EL, bucket_path="/test/bucket")
    names = sorted(r["key"]["name"] for r in v.collect())
    assert names == ["10.0.0.1", "10.0.0.2", "10.0.0.3", "10.0.0.4"]
    assert all(r["bucket_path"] == "/test/bucket" for r in v.collect())


def test_decompose_edges(spark, records):
    _, e = decompose(records, EL)
    # raw edges before dedup: 4 non-null records
    assert e.count() == 4
    pairs = {(r["outV"]["name"], r["inV"]["name"]) for r in e.collect()}
    assert ("10.0.0.1", "10.0.0.2") in pairs and ("10.0.0.4", "10.0.0.4") in pairs


def test_edge_dedup_and_self_loop(spark, records):
    v, e = build_graph(records, EL)
    edges = {(r["outV"]["name"], r["inV"]["name"]) for r in e.collect()}
    assert edges == {("10.0.0.1", "10.0.0.2"), ("10.0.0.2", "10.0.0.3"), ("10.0.0.4", "10.0.0.4")}


def test_merge_first_wins_existing_priority(spark, records):
    v, _ = decompose(records, EL)
    existing = spark.createDataFrame(
        [Row(key=Row(name="10.0.0.1", type="ip"), label="ip_EXISTING", bucket_path="/old")]
    )
    merged = merge_vertices(existing, v)
    by_name = {r["key"]["name"]: r["label"] for r in merged.collect()}
    assert by_name["10.0.0.1"] == "ip_EXISTING"  # existing wins
    assert by_name["10.0.0.3"] == "ip"
    assert merged.count() == 4


def test_rerun_idempotent(spark, records):
    v1, e1 = build_graph(records, EL)
    v2, e2 = build_graph(records, EL, existing_vertices=v1, existing_edges=e1)
    assert v2.count() == v1.count() and e2.count() == e1.count()


def test_edges_to_unknown_vertices_dropped(spark, records):
    _, e = decompose(records, EL)
    winners = spark.createDataFrame(
        [Row(key=Row(name="10.0.0.1", type="ip"), label="ip", bucket_path="/")]
    )
    # only edges with BOTH endpoints in winners survive; none here qualify
    assert resolve_edges(e, winners).count() == 0


# ------------------------------------------------- PageRank


def test_pagerank_hand_computed(spark):
    """2-node cycle + dangler: exact fixed-point values after 1 and 2
    iterations, computed by hand with the operator's own floor rules."""
    from aleph2_contrib_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [Row(src="a", dst="b"), Row(src="b", dst="a"), Row(src="a", dst="c")]
    )
    # iteration 1: ranks start at 1_000_000.
    #   a: base + floor(850*floor(1e6/1)/1000)       = 150000 + 850000 = 1000000
    #   b: base + floor(850*floor(1e6/2)/1000)       = 150000 + 425000 = 575000
    #   c: same as b                                  = 575000
    r1 = {r.node: r.rank_f6 for r in pagerank(edges, iterations=1).collect()}
    assert r1 == {"a": 1000000, "b": 575000, "c": 575000}
    # iteration 2:
    #   a: 150000 + floor(850*floor(575000/1)/1000)  = 150000 + 488750 = 638750
    #   b: 150000 + floor(850*floor(1000000/2)/1000) = 150000 + 425000 = 575000
    #   c: same as b
    r2 = {r.node: r.rank_f6 for r in pagerank(edges, iterations=2).collect()}
    assert r2 == {"a": 638750, "b": 575000, "c": 575000}


def test_pagerank_deterministic_across_partitionings(spark):
    from aleph2_contrib_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i * 7) % 23}") for i in range(100)]
    )
    a = {r.node: r.rank_f6 for r in pagerank(edges, iterations=4).collect()}
    b = {
        r.node: r.rank_f6
        for r in pagerank(edges.repartition(13), iterations=4).collect()
    }
    assert a == b


def test_pagerank_checkpoint_matches_unchckpointed(spark):
    from aleph2_contrib_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [Row(src=f"n{i}", dst=f"n{(i + 1) % 10}") for i in range(10)]
    )
    a = {r.node: r.rank_f6 for r in pagerank(edges, iterations=4).collect()}
    b = {
        r.node: r.rank_f6
        for r in pagerank(edges, iterations=4, checkpoint_every=2).collect()
    }
    assert a == b


# ------------------------------------------------- triangle count


def test_triangle_count_hand_graphs(spark):
    from aleph2_contrib_spark.operators.graph import triangle_count

    # K4 has 4 triangles; duplicates/reverses/self-loops must not change it
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in k4] + [Row(src=0, dst=0)]
    )
    row = triangle_count(edges).collect()[0]
    assert (row.n_vertices, row.n_edges, row.n_triangles) == (4, 6, 4)
    # a path graph has none
    path = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(5)])
    assert triangle_count(path).collect()[0].n_triangles == 0


def test_triangle_count_star_plus_rim(spark):
    """Hub star + one rim edge = exactly 1 triangle; the hub's high degree
    must not blow up the wedge count (orientation pushes wedges off it)."""
    from aleph2_contrib_spark.operators.graph import triangle_count

    edges = [Row(src=0, dst=i) for i in range(1, 30)] + [Row(src=1, dst=2)]
    row = triangle_count(spark.createDataFrame(edges)).collect()[0]
    assert (row.n_vertices, row.n_edges, row.n_triangles) == (30, 30, 1)


# ------------------------------------------------- BFS levels


def test_bfs_levels_hand_graph(spark):
    """Diamond + tail: min-hop levels, multi-seed, unreachable nodes
    absent, cap respected."""
    from aleph2_contrib_spark.operators.graph import bfs_levels

    #     1 -> 2 -> 4 -> 5 -> 6(beyond cap at max_iters=3 from seed 1)
    #     1 -> 3 -> 4 ;  9 isolated ; seed also 7 -> 8
    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=1, dst=3), Row(src=2, dst=4), Row(src=3, dst=4),
         Row(src=4, dst=5), Row(src=5, dst=6), Row(src=7, dst=8), Row(src=9, dst=9)]
    )
    seeds = spark.createDataFrame([Row(node=1), Row(node=7)])
    out = {r.node: r.level for r in bfs_levels(edges, seeds, max_iters=3).collect()}
    assert out == {1: 0, 7: 0, 2: 1, 3: 1, 8: 1, 4: 2, 5: 3}


def test_bfs_levels_cycle_terminates_with_min(spark):
    from aleph2_contrib_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [Row(src=i, dst=(i + 1) % 4) for i in range(4)]
    )
    seeds = spark.createDataFrame([Row(node=0)])
    out = {r.node: r.level for r in bfs_levels(edges, seeds, max_iters=10).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_levels_distributed_path_matches_driver_path(spark):
    """Forcing the distributed loop (cap=0) gives identical levels to the
    driver-side BFS — the hybrid contract."""
    from aleph2_contrib_spark.operators.graph import bfs_levels

    import random
    rng = random.Random(11)
    edges = spark.createDataFrame(
        [Row(src=rng.randint(0, 50), dst=rng.randint(0, 50)) for _ in range(200)]
    )
    seeds = spark.createDataFrame([Row(node=0), Row(node=13)])
    a = {r.node: r.level for r in bfs_levels(edges, seeds, max_iters=5).collect()}
    b = {
        r.node: r.level
        for r in bfs_levels(
            edges, seeds, max_iters=5, driver_cap_edges=0, broadcast_frontier=True
        ).collect()
    }
    assert a == b and a[0] == 0


# ------------------------------------------------- k-core


def test_kcore_peels_tail_keeps_clique(spark):
    """Triangle core + pendant chain: 2-core keeps exactly the triangle
    (peeling cascades down the chain); 4-core of K4 is empty at k=4? no —
    K4 vertices have degree 3, so 3-core keeps K4 and 4-core is empty."""
    from aleph2_contrib_spark.operators.graph import kcore_decomposition

    tri_plus_chain = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=3), Row(src=1, dst=3),
         Row(src=3, dst=4), Row(src=4, dst=5), Row(src=5, dst=6)]
    )
    core = {(r.a, r.b) for r in kcore_decomposition(tri_plus_chain, k=2).collect()}
    assert core == {(1, 2), (2, 3), (1, 3)}

    k4 = spark.createDataFrame(
        [Row(src=x, dst=y) for x in range(4) for y in range(4) if x < y]
    )
    assert len(kcore_decomposition(k4, k=3).collect()) == 6
    assert kcore_decomposition(k4, k=4).count() == 0


def test_kcore_fixpoint_partition_independent(spark):
    from aleph2_contrib_spark.operators.graph import kcore_decomposition

    import random
    rng = random.Random(5)
    edges = spark.createDataFrame(
        [Row(src=rng.randint(0, 30), dst=rng.randint(0, 30)) for _ in range(120)]
    )
    a = {(r.a, r.b) for r in kcore_decomposition(edges, k=3).collect()}
    b = {(r.a, r.b) for r in kcore_decomposition(edges.repartition(11), k=3).collect()}
    assert a == b


# ------------------------------------------------- G7 visibility


def test_visibility_rules(spark):
    """element_visibility replicates the reference isAllowed matrix:
    own-bucket always visible, test-vs-prod isolated both ways, foreign
    prod buckets need a grant, empty membership is unsecured."""
    from aleph2_contrib_spark.operators.graph import filter_visible

    rows = [
        Row(key="own", a2_p=["/prod/a"]),
        Row(key="granted", a2_p=["/prod/b"]),
        Row(key="denied", a2_p=["/prod/c"]),
        Row(key="mixed_denied", a2_p=["/prod/a", "/prod/c"]),  # ALL must pass
        Row(key="test_elem", a2_p=["/aleph2_testing/x"]),
        Row(key="open", a2_p=[]),
    ]
    df = spark.createDataFrame(rows, "key string, a2_p array<string>")
    vis = {r.key for r in filter_visible(df, "/prod/a", ["/prod/b"]).collect()}
    assert vis == {"own", "granted", "open"}

    # reader inside the test namespace: sees ONLY its own bucket (+open),
    # even with grants on prod buckets
    vis_t = {
        r.key
        for r in filter_visible(
            df.unionByName(
                spark.createDataFrame(
                    [Row(key="own_test", a2_p=["/aleph2_testing/x"])],
                    "key string, a2_p array<string>",
                )
            ),
            "/aleph2_testing/x",
            ["/prod/a", "/prod/b"],
        ).collect()
    }
    assert vis_t == {"test_elem", "own_test", "open"}


def test_merge_unions_membership(spark, records):
    """G7: the winning vertex keeps the UNION of contributing buckets."""
    v, _ = decompose(records, EL, bucket_path="/prod/new")
    existing = spark.createDataFrame(
        [
            Row(
                key=Row(name="10.0.0.1", type="ip"),
                label="ip_EXISTING",
                bucket_path="/prod/old",
                a2_p=["/prod/old"],
            )
        ]
    )
    merged = {r["key"]["name"]: r for r in merge_vertices(existing, v).collect()}
    assert merged["10.0.0.1"]["label"] == "ip_EXISTING"  # existing wins
    assert sorted(merged["10.0.0.1"]["a2_p"]) == ["/prod/new", "/prod/old"]
    assert merged["10.0.0.3"]["a2_p"] == ["/prod/new"]


def test_resolve_edges_unions_membership(spark, records):
    """G7: deduped edges keep the union of contributing buckets."""
    va, ea = decompose(records, EL, bucket_path="/prod/a")
    vb, eb = decompose(records, EL, bucket_path="/prod/b")
    winners = merge_vertices(va, vb)
    out = resolve_edges(ea.unionByName(eb), winners)
    for r in out.collect():
        assert sorted(r["a2_p"]) == ["/prod/a", "/prod/b"]


def test_build_graph_test_bucket_isolated(spark, records):
    """G7: a /aleph2_testing/ bucket merges against NOTHING — the existing
    production graph is invisible to it."""
    pv, pe = build_graph(records, EL, bucket_path="/prod/a")
    tv, te = build_graph(
        records,
        EL,
        existing_vertices=pv,
        existing_edges=pe,
        bucket_path="/aleph2_testing/t",
    )
    # identical to a fresh build: no prod labels/membership leaked in
    assert {r["a2_p"][0] for r in tv.collect()} == {"/aleph2_testing/t"}
    assert all(len(r["a2_p"]) == 1 for r in te.collect())


def test_kcore_driver_and_distributed_paths_agree(spark):
    """The hybrid contract: driver-exact peel (edges under the cap) and
    the distributed removal loop (cap=0 forces it) reach the identical
    unique fixpoint, in both edge-list and degree forms."""
    import random

    from aleph2_contrib_spark.operators.graph import kcore_decomposition

    rng = random.Random(11)
    rows = [Row(src=rng.randrange(40), dst=rng.randrange(40)) for _ in range(400)]
    edges = spark.createDataFrame(rows)
    drv = {(r.a, r.b) for r in kcore_decomposition(edges, k=4).collect()}
    dist = {
        (r.a, r.b)
        for r in kcore_decomposition(edges, k=4, driver_max_edges=0).collect()
    }
    assert drv == dist and len(drv) > 0
    ddeg = {
        (r.n, r.d)
        for r in kcore_decomposition(edges, k=4, return_degrees=True).collect()
    }
    sdeg = {
        (r.n, r.d)
        for r in kcore_decomposition(
            edges, k=4, return_degrees=True, driver_max_edges=0
        ).collect()
    }
    assert ddeg == sdeg and len(ddeg) > 0


def _brute_coreness(pairs):
    """Definition-level reference: c(v) = max k with v in the k-core,
    computed by a naive per-k peel over Python sets."""
    core = {}
    edges = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    k = 1
    while edges:
        # peel to the (k+1)-core; removed vertices have coreness k
        cur = set(edges)
        while True:
            deg = {}
            for a, b in cur:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            drop = {n for n, d in deg.items() if d < k + 1}
            if not drop:
                break
            survivors_lost = set(deg) - drop
            cur = {(a, b) for a, b in cur if a not in drop and b not in drop}
            if not cur:
                for n in survivors_lost:
                    core[n] = k
            for n in drop:
                core.setdefault(n, k)
        edges = cur
        k += 1
    return core


def test_coreness_matches_brute_force_definition(spark):
    import random

    from aleph2_contrib_spark.operators.graph import coreness_decomposition

    rng = random.Random(7)
    pairs = [(rng.randrange(30), rng.randrange(30)) for _ in range(250)]
    expect = _brute_coreness(pairs)
    edges = spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])
    got = {r.node: r.coreness for r in coreness_decomposition(edges).collect()}
    assert got == expect


def test_coreness_driver_and_distributed_paths_agree(spark):
    """Hybrid contract: the driver ascending-k peel and the distributed
    h-index fixpoint (forced via driver_max_edges=0) agree exactly."""
    import random

    from aleph2_contrib_spark.operators.graph import coreness_decomposition

    rng = random.Random(13)
    rows = [Row(src=rng.randrange(40), dst=rng.randrange(40)) for _ in range(400)]
    edges = spark.createDataFrame(rows)
    drv = {(r.node, r.coreness) for r in coreness_decomposition(edges).collect()}
    dist = {
        (r.node, r.coreness)
        for r in coreness_decomposition(edges, driver_max_edges=0).collect()
    }
    assert drv == dist and len(drv) > 0


def test_coreness_partition_independent(spark):
    import random

    from aleph2_contrib_spark.operators.graph import coreness_decomposition

    rng = random.Random(17)
    rows = [Row(src=rng.randrange(25), dst=rng.randrange(25)) for _ in range(200)]
    edges = spark.createDataFrame(rows)
    a = {(r.node, r.coreness) for r in coreness_decomposition(edges).collect()}
    b = {
        (r.node, r.coreness)
        for r in coreness_decomposition(edges.repartition(11)).collect()
    }
    assert a == b and len(a) > 0


def test_lpa_two_cliques_with_bridge(spark):
    from aleph2_contrib_spark.operators.graph import lpa_communities

    # triangles {1,2,3} and {4,5,6} joined by bridge 3-4: three
    # synchronous rounds settle each triangle on one label (hand-traced:
    # 1,2,3 -> 1 and 4,5,6 -> 3 after round 3; deterministic by the
    # min-label tie-break).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        ["src", "dst"],
    )
    got = {r["node"]: r["community"] for r in lpa_communities(edges, rounds=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_lpa_ignores_duplicates_selfloops_and_direction(spark):
    from aleph2_contrib_spark.operators.graph import lpa_communities

    base = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["src", "dst"])
    noisy = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (2, 3), (1, 3), (2, 2)], ["src", "dst"]
    )
    a = sorted(map(tuple, lpa_communities(base, rounds=2).collect()))
    b = sorted(map(tuple, lpa_communities(noisy, rounds=2).collect()))
    assert a == b


def test_lpa_partition_invariant(spark):
    from aleph2_contrib_spark.operators.graph import lpa_communities

    import random as _r

    rng = _r.Random(5)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(300)]
    df1 = spark.createDataFrame(edges, ["src", "dst"]).repartition(1)
    df2 = spark.createDataFrame(edges, ["src", "dst"]).repartition(16)
    a = sorted(map(tuple, lpa_communities(df1, rounds=3).collect()))
    b = sorted(map(tuple, lpa_communities(df2, rounds=3).collect()))
    assert a == b


def _lp_rows(spark, edges, **kw):
    from aleph2_contrib_spark.operators.graph import link_prediction

    df = spark.createDataFrame(edges, ["src", "dst"])
    return [tuple(r) for r in link_prediction(df, **kw).collect()]


def test_link_prediction_hand_case(spark):
    # triangle 1-2-3 plus pendant 3-4: only non-adjacent pairs sharing a
    # neighbor are (1,4) and (2,4), both witnessed by 3
    rows = _lp_rows(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    # (a, b, cn, da, db, jaccard_permille); 1000*1 div (2+1-1) = 500
    assert rows == [(1, 4, 1, 2, 1, 500), (2, 4, 1, 2, 1, 500)]


def test_link_prediction_excludes_existing_edges(spark):
    # square 1-2-3-4-1: diagonals (1,3) and (2,4) are predicted (cn=2),
    # the four existing edges never appear
    rows = _lp_rows(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    assert rows == [(1, 3, 2, 2, 2, 1000), (2, 4, 2, 2, 2, 1000)]


def test_link_prediction_witness_cap_skips_hubs(spark):
    # star: hub 0 with leaves 1..3 — every candidate pair is witnessed
    # only by the hub (degree 3), so capping witnesses at 2 empties the
    # output while leaf degrees stay true degrees without the cap
    star = [(0, 1), (0, 2), (0, 3)]
    assert len(_lp_rows(spark, star)) == 3
    assert _lp_rows(spark, star, max_witness_degree=2) == []


def test_link_prediction_direction_and_duplicate_invariant(spark):
    base = [(1, 2), (1, 3), (2, 3), (3, 4)]
    noisy = base + [(b, a) for a, b in base] + base + [(4, 4)]
    assert _lp_rows(spark, base) == _lp_rows(spark, noisy)


def _sssp(spark, edges, seeds, **kw):
    from aleph2_contrib_spark.operators.graph import sssp_weighted

    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    s = spark.createDataFrame([(x,) for x in seeds], ["node"])
    return {r.node: r.dist for r in sssp_weighted(e, s, **kw).collect()}


def test_sssp_many_hops_beat_heavy_edge(spark):
    # 1→4 direct costs 10; 1→2→3→4 costs 3 — Bellman-Ford must prefer
    # the longer-hop cheaper path
    d = _sssp(spark, [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1)], [1])
    assert d == {1: 0, 2: 1, 3: 2, 4: 3}


def test_sssp_respects_direction_and_unreachable_absent(spark):
    d = _sssp(spark, [(1, 2, 5), (3, 2, 1)], [1])
    assert d == {1: 0, 2: 5}  # 3 unreachable (edge points INTO 2)


def test_sssp_multi_source_min_and_zero_weight(spark):
    d = _sssp(spark, [(1, 2, 0), (5, 2, 3), (2, 3, 2)], [1, 5])
    assert d == {1: 0, 5: 0, 2: 0, 3: 2}


def test_sssp_driver_and_distributed_paths_agree(spark):
    import random

    rng = random.Random(7)
    edges = [
        (rng.randrange(40), rng.randrange(40), rng.randrange(1, 9))
        for _ in range(160)
    ]
    seeds = [0, 17]
    a = _sssp(spark, edges, seeds)
    b = _sssp(spark, edges, seeds, driver_cap_edges=0)  # force distributed
    assert a == b and len(a) > 10


def test_sssp_max_iters_bounds_hop_count(spark):
    chain = [(i, i + 1, 1) for i in range(6)]
    d = _sssp(spark, chain, [0], max_iters=3)
    assert d == {0: 0, 1: 1, 2: 2, 3: 3}  # nodes >3 hops not yet reached


def _brute_hits(edges, iters):
    nodes = sorted({x for e in edges for x in e})
    h = {n: 1 for n in nodes}
    a = {n: 0 for n in nodes}
    for _ in range(iters):
        a = {n: 0 for n in nodes}
        for s, d in edges:
            a[d] += h[s]
        h2 = {n: 0 for n in nodes}
        for s, d in edges:
            h2[s] += a[d]
        h = h2
    return {n: (h[n], a[n]) for n in nodes}


def _hits(spark, edges, **kw):
    from aleph2_contrib_spark.operators.graph import hits_scores

    e = spark.createDataFrame(edges, ["src", "dst"])
    return {r.node: (r.hub, r.auth) for r in hits_scores(e, **kw).collect()}


def test_hits_matches_bruteforce_random(spark):
    import random

    rng = random.Random(17)
    edges = [(rng.randrange(30), 30 + rng.randrange(20)) for _ in range(120)]
    for iters in (1, 3):
        assert _hits(spark, edges, iterations=iters) == _brute_hits(edges, iters)


def test_hits_sources_sinks_and_multiplicity(spark):
    # 1->2 twice (multi-edge counts), 3 is a pure source, 2 a pure sink
    edges = [(1, 2), (1, 2), (3, 2)]
    got = _hits(spark, edges, iterations=2)
    assert got == _brute_hits(edges, 2)
    assert got[2][0] == 0 and got[3][1] == 0  # sink has no hub, source no auth


def test_hits_oracle_matches_spark(spark):
    import duckdb
    import random

    from aleph2_contrib_spark.operators.graph import hits_oracle_sql

    rng = random.Random(23)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(90)]
    got = _hits(spark, edges, iterations=3)
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    sql = hits_oracle_sql(f"SELECT * FROM (VALUES {vals}) t(src, dst)", 3)
    want = {n: (int(h), int(a)) for n, h, a in duckdb.sql(sql).fetchall()}
    assert got == want


# ---------------------------------------------------------------- k-truss


def _brute_truss(edges, k):
    from collections import defaultdict

    E = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        adj = defaultdict(set)
        for a, b in E:
            adj[a].add(b)
            adj[b].add(a)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in E}
        keep = {e for e in E if sup[e] >= k - 2}
        if keep == E:
            return {(a, b, sup[(a, b)]) for a, b in E}
        E = keep


@pytest.fixture(scope="module")
def truss_edges():
    from itertools import combinations

    edges = list(combinations([1, 2, 3, 4, 5], 2))  # K5
    edges += [(5, 6), (6, 7), (5, 7)]  # pendant triangle sharing vertex 5
    edges += [(7, 8), (8, 9), (9, 10)]  # tail chain (no triangles)
    edges += [(2, 1), (3, 3), (4, 1)]  # dup reversed, loop, dup
    return edges


@pytest.mark.parametrize("k", [3, 4, 5])
def test_ktruss_matches_brute_force(spark, truss_edges, k):
    from aleph2_contrib_spark.operators.graph import ktruss_decomposition

    df = spark.createDataFrame(truss_edges, "src int, dst int")
    got = {
        (r["a"], r["b"], r["support"])
        for r in ktruss_decomposition(df, k=k).collect()
    }
    assert got == _brute_truss(truss_edges, k)


def test_ktruss_peels_iteratively(spark):
    # a triangle strip: each interior edge has 2 triangles, boundary 1;
    # k=4 requires support >= 2, removing boundary edges cascades the
    # interior down — the whole strip dies only through ITERATED peeling
    # (single-pass support filtering would keep the interior edges)
    from aleph2_contrib_spark.operators.graph import ktruss_decomposition

    strip = [(i, i + 1) for i in range(1, 8)] + [(i, i + 2) for i in range(1, 7)]
    df = spark.createDataFrame(strip, "src int, dst int")
    assert ktruss_decomposition(df, k=4).count() == 0
    assert _brute_truss(strip, 4) == set()


def test_ktruss_validation(spark):
    from aleph2_contrib_spark.operators.graph import ktruss_decomposition

    df = spark.createDataFrame([(1, 2)], "src int, dst int")
    with pytest.raises(ValueError, match="k must be >= 3"):
        ktruss_decomposition(df, k=2)


def test_ktruss_oracle_matches_duckdb(spark, truss_edges):
    import duckdb

    from aleph2_contrib_spark.operators.graph import (
        ktruss_decomposition,
        ktruss_oracle_sql,
    )

    df = spark.createDataFrame(truss_edges, "src int, dst int")
    got = {
        (r["a"], r["b"], r["support"])
        for r in ktruss_decomposition(df, k=4).collect()
    }
    vals = ", ".join(f"({a}, {b})" for a, b in truss_edges)
    edge_sql = (
        f"SELECT DISTINCT least(c1, c2) AS a, greatest(c1, c2) AS b "
        f"FROM (VALUES {vals}) t(c1, c2) WHERE c1 != c2"
    )
    oracle = {
        tuple(r)
        for r in duckdb.sql(ktruss_oracle_sql(edge_sql, k=4, rounds=6)).fetchall()
    }
    assert got == oracle


# -- personalized_pagerank -------------------------------------------------


def _brute_ppr(edges, seeds, iterations=3, d=850, scale=1_000_000):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    base = (1000 - d) * scale // 1000
    rank = {n: (scale if n in seeds else 0) for n in nodes}
    for _ in range(iterations):
        csum = {n: 0 for n in nodes}
        for a, b in edges:
            if rank[a] > 0:
                csum[b] += rank[a] // outdeg[a]
        rank = {
            n: (base if n in seeds else 0) + (d * csum[n]) // 1000
            for n in nodes
        }
    return {n: r for n, r in rank.items() if r > 0}


def test_personalized_pagerank_matches_brute_force(spark):
    import random

    from aleph2_contrib_spark.operators.graph import personalized_pagerank

    rnd = random.Random(17)
    edges = sorted(
        {
            (f"n{rnd.randint(0, 30)}", f"n{rnd.randint(0, 30)}")
            for _ in range(120)
        }
    )
    seeds = ["n1", "n2"]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["rank_f6"]
        for r in personalized_pagerank(df, seeds, iterations=3).collect()
    }
    assert got == _brute_ppr(edges, set(seeds), iterations=3)


def test_personalized_pagerank_oracle_matches(spark):
    import duckdb

    from aleph2_contrib_spark.operators.graph import (
        personalized_pagerank,
        ppr_oracle_sql,
    )

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r["node"], r["rank_f6"])
        for r in personalized_pagerank(df, ["a"], iterations=4).collect()
    }
    vals = ", ".join(f"('{a}', '{b}')" for a, b in edges)
    sql = ppr_oracle_sql(
        f"SELECT c1 AS src, c2 AS dst FROM (VALUES {vals}) t(c1, c2)",
        "SELECT 'a' AS node",
        iterations=4,
    )
    assert got == {tuple(r) for r in duckdb.sql(sql).fetchall()}
    # the disconnected component (x, y) must carry zero mass
    assert not any(n in ("x", "y") for n, _ in got)


def test_personalized_pagerank_validation(spark):
    import pytest as _pytest

    from aleph2_contrib_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(ValueError, match="at least one seed"):
        personalized_pagerank(df, [])


# -- bipartite_project -------------------------------------------------------


def test_bipartite_project_weights_and_cap(spark):
    from aleph2_contrib_spark.operators.graph import bipartite_project

    rows = [
        ("o1", "a"), ("o1", "b"), ("o1", "c"),
        ("o2", "a"), ("o2", "b"),
        ("o3", "a"), ("o3", "b"),
        ("o3", "a"),          # duplicate incidence must not inflate weight
        ("o4", "x"), (None, "y"), ("o5", None),
    ]
    df = spark.createDataFrame(rows, "l string, r string")
    got = {(r["src"], r["dst"]): r["weight"] for r in bipartite_project(df, "l", "r").collect()}
    assert got == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}
    # min_weight drops the singleton tail
    got2 = {(r["src"], r["dst"]): r["weight"]
            for r in bipartite_project(df, "l", "r", min_weight=2).collect()}
    assert got2 == {("a", "b"): 3}
    # hub fence: o1 (degree 3) dropped entirely at cap 2
    got3 = {(r["src"], r["dst"]): r["weight"]
            for r in bipartite_project(df, "l", "r", max_left_degree=2).collect()}
    assert got3 == {("a", "b"): 2}


def test_bipartite_project_oracle_matches(spark, tmp_path):
    import duckdb

    from aleph2_contrib_spark.operators.graph import (
        bipartite_project,
        bipartite_project_oracle_sql,
    )

    import random
    rnd = random.Random(5)
    rows = [(rnd.randint(0, 40), rnd.randint(0, 25)) for _ in range(600)]
    df = spark.createDataFrame(rows, "l int, r int")
    p = str(tmp_path / "inc.parquet")
    df.coalesce(1).write.parquet(p)
    for kwargs in ({}, {"min_weight": 2}, {"max_left_degree": 12}):
        got = {tuple(r) for r in bipartite_project(df, "l", "r", **kwargs).collect()}
        sql = bipartite_project_oracle_sql(
            f"SELECT l, r FROM '{p}/*.parquet'", **kwargs
        )
        want = {tuple(r) for r in duckdb.sql(sql).fetchall()}
        assert got == want, kwargs


def test_degree_assortativity_signs_and_oracle(spark, tmp_path):
    import duckdb

    from aleph2_contrib_spark.operators.graph import (
        degree_assortativity,
        degree_assortativity_oracle_sql,
    )

    # star graph: hub attaches to leaves only -> strictly negative corr
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src int, dst int"
    )
    r = degree_assortativity(star).collect()[0]
    assert r["n_edge_ends"] == 10 and r["corr_num"] < 0
    # two disjoint same-degree cliques -> zero variance (undefined corr)
    k3 = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)]
    r2 = degree_assortativity(spark.createDataFrame(k3, "src int, dst int")).collect()[0]
    assert r2["var_a_num"] == 0 and r2["corr_num"] == 0
    # oracle parity incl. self-loop/dup/orientation canonicalization
    import random
    rnd = random.Random(17)
    rows = [(rnd.randint(0, 30), rnd.randint(0, 30)) for _ in range(300)]
    df = spark.createDataFrame(rows, "src int, dst int")
    p = str(tmp_path / "e.parquet")
    df.coalesce(1).write.parquet(p)
    got = {tuple(r) for r in degree_assortativity(df).collect()}
    want = {tuple(r) for r in duckdb.sql(
        degree_assortativity_oracle_sql(f"SELECT src, dst FROM '{p}/*.parquet'")
    ).fetchall()}
    assert got == want


# -- deterministic_walks ------------------------------------------------------


def test_deterministic_walks_matches_python_simulation(spark):
    import hashlib
    import random

    from aleph2_contrib_spark.operators.graph import deterministic_walks

    rnd = random.Random(23)
    edges = list({(rnd.randint(0, 30), rnd.randint(0, 30)) for _ in range(120)})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["start"]: (r["step_1"], r["step_2"], r["step_3"])
        for r in deterministic_walks(df, n_steps=3, seed="t").collect()
    }

    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)

    def nxt(i, c):
        if c is None or c not in adj:
            return None
        pri = {
            d: hashlib.md5(f"t:{i}:{c}:{d}".encode()).hexdigest() + ":" + str(d)
            for d in adj[c]
        }
        return min(adj[c], key=lambda d: pri[d])

    want = {}
    for s in adj:
        n1 = nxt(1, s)
        n2 = nxt(2, n1)
        n3 = nxt(3, n2)
        want[s] = (n1, n2, n3)
    assert got == want and len(got) > 0


def test_deterministic_walks_dead_ends_and_validation(spark):
    import pytest

    from aleph2_contrib_spark.operators.graph import deterministic_walks

    # 1 -> 2, 2 has no out-edges: walk stops, NULL tail stays NULL
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    rows = {r["start"]: r for r in deterministic_walks(df, n_steps=3).collect()}
    assert set(rows) == {1}
    assert rows[1]["step_1"] == 2
    assert rows[1]["step_2"] is None and rows[1]["step_3"] is None
    with pytest.raises(ValueError, match="n_steps"):
        deterministic_walks(df, n_steps=0)


def test_deterministic_walks_oracle_matches(spark, tmp_path):
    import random

    import duckdb

    from aleph2_contrib_spark.operators.graph import (
        deterministic_walks,
        deterministic_walks_oracle_sql,
    )

    rnd = random.Random(5)
    edges = list({(rnd.randint(0, 50), rnd.randint(0, 50)) for _ in range(300)})
    df = spark.createDataFrame(edges, "src long, dst long")
    p = str(tmp_path / "e.parquet")
    df.coalesce(1).write.parquet(p)
    got = {tuple(x) for x in deterministic_walks(df, n_steps=2, seed="z").collect()}
    sql = deterministic_walks_oracle_sql(
        f"SELECT src, dst FROM '{p}/*.parquet'", n_steps=2, seed="z"
    )
    want = {tuple(x) for x in duckdb.sql(sql).fetchall()}
    assert got == want and len(got) > 0


# -- landmark_closeness -------------------------------------------------------


def test_landmark_closeness_path_graph_exact(spark):
    import hashlib

    from aleph2_contrib_spark.operators.graph import landmark_closeness

    # path 1-2-3-4-5; pick 2 landmarks by the documented md5 order and
    # verify against a hand BFS
    edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    lms = sorted(range(1, 6), key=lambda v: (hashlib.md5(f"t:{v}".encode()).hexdigest(), v))[:2]
    got = {
        r["v"]: (r["n_reached"], r["sum_dist"], r["harmonic_num"])
        for r in landmark_closeness(df, n_landmarks=2, max_hops=2, seed="t").collect()
    }
    # hand BFS (undirected, h=2, lcm(1..2)=2)
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for lm in lms:
        dist = {lm: 0}
        frontier = [lm]
        for d in (1, 2):
            nxt = []
            for u in frontier:
                for w in adj[u]:
                    if w not in dist:
                        dist[w] = d
                        nxt.append(w)
            frontier = nxt
        for v, d in dist.items():
            n, s, hn = want.get(v, (0, 0, 0))
            want[v] = (n + 1, s + d, hn + (2 // d if d > 0 else 0))
    assert got == want and len(got) > 0


def test_landmark_closeness_driver_matches_distributed(spark):
    """The driver CSR fast path must reproduce the distributed rounds'
    rows exactly (driver_cap_edges=0 forces the join path): same landmark
    set (selection is the same distributed TakeOrdered either way), same
    min-distances, same exact integer harmonic numerators."""
    import random

    from aleph2_contrib_spark.operators.graph import landmark_closeness

    rng = random.Random(7)
    pairs = list({(rng.randrange(1, 40), rng.randrange(1, 40)) for _ in range(90)})
    df = spark.createDataFrame(pairs, "src long, dst long")
    for n_lm, hops in ((3, 2), (5, 3)):
        fast = {
            r["v"]: (r["n_reached"], r["sum_dist"], r["harmonic_num"])
            for r in landmark_closeness(df, n_landmarks=n_lm, max_hops=hops, seed="dd").collect()
        }
        slow = {
            r["v"]: (r["n_reached"], r["sum_dist"], r["harmonic_num"])
            for r in landmark_closeness(
                df, n_landmarks=n_lm, max_hops=hops, seed="dd", driver_cap_edges=0
            ).collect()
        }
        assert fast == slow and len(fast) > 0


def test_landmark_closeness_validation(spark):
    import pytest

    from aleph2_contrib_spark.operators.graph import landmark_closeness

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="n_landmarks"):
        landmark_closeness(df, n_landmarks=0)
    with pytest.raises(ValueError, match="max_hops"):
        landmark_closeness(df, max_hops=0)


def test_landmark_closeness_oracle_matches(spark, tmp_path):
    import random

    import duckdb

    from aleph2_contrib_spark.operators.graph import (
        landmark_closeness,
        landmark_closeness_oracle_sql,
    )

    rnd = random.Random(29)
    edges = list({(rnd.randint(0, 40), rnd.randint(0, 40)) for _ in range(140)})
    df = spark.createDataFrame(edges, "src long, dst long")
    p = str(tmp_path / "e.parquet")
    df.coalesce(1).write.parquet(p)
    got = {tuple(x) for x in landmark_closeness(df, n_landmarks=5, max_hops=3, seed="q").collect()}
    sql = landmark_closeness_oracle_sql(
        f"SELECT src, dst FROM '{p}/*.parquet'", n_landmarks=5, max_hops=3, seed="q"
    )
    want = {tuple(x) for x in duckdb.sql(sql).fetchall()}
    assert got == want and len(got) > 0


# -- global_graph_stats -------------------------------------------------------


def test_global_graph_stats_hand_worked(spark):
    from aleph2_contrib_spark.operators.graph import global_graph_stats

    # triangle 1-2-3 plus pendant 3->4; directed: 1->2, 2->1 (mutual),
    # 1->3, 2->3, 3->4
    edges = [(1, 2), (2, 1), (1, 3), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    (r,) = global_graph_stats(df).collect()
    assert r["n_vertices"] == 4 and r["n_edges"] == 4
    assert r["n_triangles"] == 1
    # degrees: 1:2, 2:2, 3:3, 4:1 -> wedges 1+1+3+0 = 5
    assert int(r["n_wedges"]) == 5
    assert r["global_cc_ppm"] == (3 * 1 * 1000000) // 5
    # directed distinct: 5 edges, mutual pair (1,2) contributes 2
    assert r["reciprocity_ppm"] == (2 * 1000000) // 5


def test_global_graph_stats_oracle_matches(spark, tmp_path):
    import random

    import duckdb

    from aleph2_contrib_spark.operators.graph import (
        global_graph_stats,
        global_graph_stats_oracle_sql,
    )

    rnd = random.Random(31)
    edges = list({(rnd.randint(0, 25), rnd.randint(0, 25)) for _ in range(160)})
    df = spark.createDataFrame(edges, "src long, dst long")
    p = str(tmp_path / "e.parquet")
    df.coalesce(1).write.parquet(p)
    got = [tuple(x) for x in global_graph_stats(df).collect()]
    want = [
        tuple(x)
        for x in duckdb.sql(
            global_graph_stats_oracle_sql(f"SELECT src, dst FROM '{p}/*.parquet'")
        ).fetchall()
    ]
    assert got == want


# -- strongly_connected_components --------------------------------------------


def test_scc_hand_worked(spark):
    from aleph2_contrib_spark.operators.graph import strongly_connected_components

    # triangle {1,2,3}, 2-cycle {5,6}, DAG chain 3->4->5, pendant 4->7
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 5), (4, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(tuple(x) for x in strongly_connected_components(df).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5), (7, 7)]


def test_scc_dag_chain_trims_in_one_phase(spark):
    from aleph2_contrib_spark.operators.graph import strongly_connected_components

    # a pure 10-vertex chain would need 10 peeling phases without trim;
    # max_phases=2 proves trim drains it
    edges = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(tuple(x) for x in strongly_connected_components(df, max_phases=2).collect())
    assert got == [(i, i) for i in range(11)]


def test_scc_oracle_matches_random(spark, tmp_path):
    import random

    import duckdb

    from aleph2_contrib_spark.operators.graph import (
        strongly_connected_components,
        strongly_connected_components_oracle_sql,
    )

    rnd = random.Random(47)
    edges = list({(rnd.randint(0, 30), rnd.randint(0, 30)) for _ in range(70)})
    df = spark.createDataFrame(edges, "src long, dst long")
    p = str(tmp_path / "e.parquet")
    df.coalesce(1).write.parquet(p)
    got = {tuple(x) for x in strongly_connected_components(df).collect()}
    want = {
        tuple(x)
        for x in duckdb.sql(
            strongly_connected_components_oracle_sql(
                f"SELECT src, dst FROM '{p}/*.parquet'"
            )
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_scc_driver_and_distributed_trim_agree(spark):
    """The hybrid driver peel (default, under the 2M-edge cap) and the
    forced-distributed trim (driver_trim_max_edges=0 — the 100 TB path
    the scale sweep certifies) reach the identical unique fixpoint,
    including string vertex ids through the numpy path."""
    import random

    from aleph2_contrib_spark.operators.graph import (
        strongly_connected_components,
    )

    rnd = random.Random(53)
    edges = list({(rnd.randint(0, 40), rnd.randint(0, 40)) for _ in range(90)})
    for schema, conv in (
        ("src long, dst long", lambda x: x),
        ("src string, dst string", lambda x: f"v{x:03d}"),
    ):
        df = spark.createDataFrame(
            [(conv(a), conv(b)) for a, b in edges], schema
        )
        hybrid = sorted(
            tuple(x) for x in strongly_connected_components(df).collect()
        )
        dist = sorted(
            tuple(x)
            for x in strongly_connected_components(
                df, driver_trim_max_edges=0
            ).collect()
        )
        assert hybrid == dist and len(hybrid) > 0, schema


def _both_dirs(spark, pairs):
    from pyspark.sql import Row

    rows = [Row(src=a, dst=b) for a, b in pairs] + [
        Row(src=b, dst=a) for a, b in pairs
    ]
    return spark.createDataFrame(rows)


def test_shortest_path_counts_diamond(spark):
    from pyspark.sql import Row

    from aleph2_contrib_spark.operators.graph import shortest_path_counts

    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]]
    )
    seeds = spark.createDataFrame([Row(node="a")])
    out = {r.node: (r.dist, r.sigma) for r in shortest_path_counts(
        edges, seeds).collect()}
    assert out == {"a": (0, 1), "b": (1, 1), "c": (1, 1), "d": (2, 2)}


def test_shortest_path_counts_refuses_to_wrap_sigma(spark):
    """A layered complete DAG of width 16 has 16^(d-1) shortest paths to
    each node of layer d: 2^60 at layer 16 is exact, 2^64 at layer 17
    would wrap int64 to 0, so the driver path raises instead."""
    from pyspark.sql import Row

    from aleph2_contrib_spark.operators.graph import shortest_path_counts

    width = 16
    pairs = [(0, 1 + j) for j in range(width)]
    for layer in range(1, 17):
        base = 1 + (layer - 1) * width
        pairs += [(base + a, base + width + b) for a in range(width) for b in range(width)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    seeds = spark.createDataFrame([Row(node=0)], "node long")
    out = {r.node: r.sigma for r in shortest_path_counts(edges, seeds, max_depth=16).collect()}
    assert out[1 + 15 * width] == 2**60
    with pytest.raises(OverflowError):
        shortest_path_counts(edges, seeds, max_depth=17)


def test_betweenness_path_graph_exact_f6(spark):
    from aleph2_contrib_spark.operators.graph import betweenness_sampled

    edges = _both_dirs(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    out = {r.node: r.betweenness_f6 for r in betweenness_sampled(
        edges, ["a"], max_depth=4).collect()}
    # from source a on the path a-b-c-d: delta(b)=2, delta(c)=1, delta(d)=0
    assert out == {"b": 2_000_000, "c": 1_000_000, "d": 0}


def test_betweenness_diamond_split_paths(spark):
    from pyspark.sql import Row

    from aleph2_contrib_spark.operators.graph import betweenness_sampled

    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]]
    )
    out = {r.node: r.betweenness_f6 for r in betweenness_sampled(
        edges, ["a"], max_depth=4).collect()}
    # two shortest a->d paths split the dependency: delta(b)=delta(c)=0.5
    assert out == {"b": 500_000, "c": 500_000, "d": 0}


def test_betweenness_distributed_matches_driver(spark):
    from aleph2_contrib_spark.operators.graph import (
        betweenness_sampled,
        shortest_path_counts,
    )
    from pyspark.sql import Row

    pairs = [(i, (i * 3 + 1) % 11) for i in range(11)] + [(i, (i + 1) % 11) for i in range(11)]
    edges = _both_dirs(spark, pairs)
    srcs = [0, 5]
    drv = {r.node: r.betweenness_f6 for r in betweenness_sampled(
        edges, srcs, max_depth=3).collect()}
    dist = {r.node: r.betweenness_f6 for r in betweenness_sampled(
        edges, srcs, max_depth=3, driver_cap_edges=0).collect()}
    assert drv == dist

    seeds = spark.createDataFrame([Row(node=0), Row(node=5)])
    drv_s = {r.node: (r.dist, r.sigma) for r in shortest_path_counts(
        edges, seeds, max_depth=3).collect()}
    dist_s = {r.node: (r.dist, r.sigma) for r in shortest_path_counts(
        edges, seeds, max_depth=3, driver_cap_edges=0).collect()}
    assert drv_s == dist_s and len(drv_s) > 2


def test_rectangle_count_known_shapes(spark):
    from pyspark.sql import Row

    from aleph2_contrib_spark.operators.graph import rectangle_count

    def c4(pairs):
        df = spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])
        return rectangle_count(df).collect()[0]

    # a single square has exactly one 4-cycle
    sq = c4([(1, 2), (2, 3), (3, 4), (4, 1)])
    assert (sq.n_vertices, sq.n_edges, sq.n_rectangles) == (4, 4, 1)
    # K4: choose 2 diagonal pairs -> 3 rectangles
    k4 = c4([(a, b) for a in range(4) for b in range(a + 1, 4)])
    assert k4.n_rectangles == 3
    # a triangle has none; duplicates/self-loops/direction are canonicalized
    tri = c4([(1, 2), (2, 1), (2, 3), (3, 1), (1, 1)])
    assert (tri.n_edges, tri.n_rectangles) == (3, 0)


def test_rectangle_count_matches_brute_force_random(spark):
    import itertools
    import random

    from pyspark.sql import Row

    from aleph2_contrib_spark.operators.graph import rectangle_count

    rng = random.Random(42)
    for _ in range(3):
        n = rng.randint(5, 10)
        pairs = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(4, n * 2))
        ]
        adj = {i: set() for i in range(n)}
        for a, b in pairs:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        want = (
            sum(
                len(adj[u] & adj[v]) * (len(adj[u] & adj[v]) - 1) // 2
                for u, v in itertools.combinations(range(n), 2)
            )
            // 2
        )
        df = spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])
        got = rectangle_count(df).collect()[0].n_rectangles
        assert got == want, (pairs, got, want)


def test_diameter_two_sweep_path_and_cycle(spark):
    from pyspark.sql import Row

    from aleph2_contrib_spark.operators.graph import diameter_two_sweep

    def sym(pairs):
        both = pairs + [(b, a) for a, b in pairs]
        return spark.createDataFrame([Row(src=a, dst=b) for a, b in both])

    # path 1-2-3-4-5: exact on trees
    r = diameter_two_sweep(sym([(1, 2), (2, 3), (3, 4), (4, 5)])).collect()[0]
    assert (r.seed1, r.ecc1, r.seed2, r.ecc2, r.diameter_lb) == (1, 4, 5, 4, 4)
    # 6-cycle: diameter 3, farthest-from-1 ties (node 4 at distance 3)
    c = diameter_two_sweep(
        sym([(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)])
    ).collect()[0]
    assert (c.seed1, c.ecc1, c.seed2, c.ecc2, c.diameter_lb) == (1, 3, 4, 3, 3)


def test_diameter_two_sweep_driver_matches_distributed(spark):
    """The driver CSR fast path and the distributed per-round-join path
    must produce the identical row (seeds, tie-breaks, caps included):
    driver_cap_edges=0 forces the distributed form on the same graphs."""
    from pyspark.sql import Row

    from aleph2_contrib_spark.operators.graph import diameter_two_sweep

    def sym(pairs):
        both = pairs + [(b, a) for a, b in pairs]
        return spark.createDataFrame([Row(src=a, dst=b) for a, b in both])

    graphs = [
        # lollipop: triangle + tail, exercises the farthest-node tie-break
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)],
        # two stars bridged, plus a cap-hitting long path under max_iters=2
        [(1, 2), (1, 3), (1, 4), (4, 5), (5, 6), (5, 7)],
    ]
    for pairs in graphs:
        for mi in (2, 8):
            fast = diameter_two_sweep(sym(pairs), max_iters=mi).collect()[0]
            slow = diameter_two_sweep(
                sym(pairs), max_iters=mi, driver_cap_edges=0
            ).collect()[0]
            assert fast == slow, (pairs, mi, fast, slow)


# ------------------------------------- driver vs distributed: truss/triangles


def test_ktruss_driver_matches_distributed(spark, truss_edges):
    """The driver CSR peel must equal the distributed join peel row for
    row (same simultaneous-removal rounds, same final supports), including
    on graphs with degree ties that stress the (degree, id) orientation."""
    import random

    from aleph2_contrib_spark.operators.graph import ktruss_decomposition

    rng = random.Random(11)
    cases = [truss_edges]
    # 4-regular circulant: every degree equal -> orientation decided
    # purely by the id tie-break
    cases.append([(i, (i + 1) % 12) for i in range(12)] + [(i, (i + 2) % 12) for i in range(12)])
    # random graphs
    for n, m in ((15, 40), (25, 90)):
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        )
    for edges in cases:
        df = spark.createDataFrame(edges, "src int, dst int")
        for k in (3, 4):
            fast = {
                (r["a"], r["b"], r["support"])
                for r in ktruss_decomposition(df, k=k).collect()
            }
            slow = {
                (r["a"], r["b"], r["support"])
                for r in ktruss_decomposition(df, k=k, driver_cap_edges=0).collect()
            }
            assert fast == slow, (edges, k)


def test_triangle_count_driver_matches_distributed(spark):
    import random

    from aleph2_contrib_spark.operators.graph import triangle_count

    rng = random.Random(7)
    cases = [
        [(1, 2), (2, 3), (1, 3), (3, 4)],
        [(i, (i + 1) % 10) for i in range(10)] + [(i, (i + 3) % 10) for i in range(10)],
        [(rng.randrange(20), rng.randrange(20)) for _ in range(70)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src int, dst int")
        fast = triangle_count(df).collect()[0]
        slow = triangle_count(df, driver_cap_edges=0).collect()[0]
        assert tuple(fast) == tuple(slow), edges


def test_scc_driver_matches_distributed(spark):
    """Full driver-side min-label solve (under the trim cap) must equal
    the distributed FW-BW phase loop on graphs with cycles, DAG chains
    into cycles, and isolated-in-subgraph vertices."""
    import random

    from aleph2_contrib_spark.operators.graph import strongly_connected_components

    rng = random.Random(23)
    cases = [
        # two cycles joined by a DAG chain
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 7), (7, 5)],
        # adversarial min ordering: high-id cycle feeding low-id cycle
        [(10, 11), (11, 10), (11, 1), (1, 2), (2, 1)],
    ]
    for n, m in ((12, 30), (20, 60)):
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(m)])
    for edges in cases:
        df = spark.createDataFrame(edges, "src int, dst int")
        fast = {
            (r["vertex"], r["scc_id"])
            for r in strongly_connected_components(df).collect()
        }
        slow = {
            (r["vertex"], r["scc_id"])
            for r in strongly_connected_components(
                df, driver_trim_max_edges=0
            ).collect()
        }
        assert fast == slow, edges


def test_lpa_driver_matches_distributed(spark):
    import random

    from aleph2_contrib_spark.operators.graph import lpa_communities

    rng = random.Random(31)
    cases = [
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)],
        [(i, (i + 1) % 9) for i in range(9)],
    ]
    for n, m in ((14, 35), (22, 70)):
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(m)])
    for edges in cases:
        df = spark.createDataFrame(edges, "src int, dst int")
        for rounds in (1, 3):
            fast = {
                (r["node"], r["community"])
                for r in lpa_communities(df, rounds=rounds).collect()
            }
            slow = {
                (r["node"], r["community"])
                for r in lpa_communities(
                    df, rounds=rounds, driver_cap_edges=0
                ).collect()
            }
            assert fast == slow, (edges, rounds)


def test_rectangle_link_driver_match_distributed(spark):
    import random

    from aleph2_contrib_spark.operators.graph import link_prediction, rectangle_count

    rng = random.Random(43)
    cases = [
        # bipartite-ish rectangle-rich graph + a pendant
        [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 11), (11, 12)],
        [(i, (i + 1) % 8) for i in range(8)] + [(0, 4), (2, 6)],
    ]
    for n, m in ((16, 45), (24, 80)):
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(m)])
    for edges in cases:
        df = spark.createDataFrame(edges, "src int, dst int")
        fr = rectangle_count(df).collect()[0]
        sr = rectangle_count(df, driver_cap_edges=0).collect()[0]
        assert tuple(fr) == tuple(sr), edges
        fl = [tuple(r) for r in link_prediction(df, top_n=10).collect()]
        sl = [tuple(r) for r in link_prediction(df, top_n=10, driver_cap_edges=0).collect()]
        assert fl == sl, edges
        # witness-degree cap parity
        flc = [tuple(r) for r in link_prediction(df, top_n=10, max_witness_degree=3).collect()]
        slc = [
            tuple(r)
            for r in link_prediction(
                df, top_n=10, max_witness_degree=3, driver_cap_edges=0
            ).collect()
        ]
        assert flc == slc, edges
