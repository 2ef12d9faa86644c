"""Graph build/merge operators — vertices/edges DataFrames à la GraphFrames.

The reference decomposes records into a property graph and merges it into
Titan with per-key dedup (reference SimpleGraphDecompService.java:77-130,
TitanGraphBuildingUtils.java:139-460, SimpleGraphMergeService.java:61-99).
Spark-native shape:

- decompose:   per record, per configured (from_field, to_field, edge_name)
               emit 2 vertices + 1 edge — a select/explode projection (G2).
- merge_vertices: groupBy vertex key, winner = user merge module or
               built-in first-wins (G5); existing-graph lookup is a keyed
               join, not a multi-term scan (G4).
- resolve_edges: rewrite edge endpoints to winning vertex ids and dedupe
               per (inV, outV, label), keeping self-loops (G6).

Scale: everything is keyed joins/groupBys on the vertex key — one shuffle
each, broadcast when the new-batch side is small. Per-bucket visibility
(G7) is the reference's ``isAllowed`` model made declarative: every
element carries an ``a2_p`` membership list of contributing bucket paths
(merges union it), and ``element_visibility`` compiles the reader's
bucket + permission grants into a pure Column predicate — same-bucket
always visible, test-vs-prod isolation on the ``/aleph2_testing/``
prefix, otherwise a permission-set check (TitanGraphBuildingUtils.
isAllowed:901-919, buildPermission:924-927). Test buckets additionally
never join against the existing production graph during merge
(TitanGraphBuildingUtils.java:294-296).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hybrid import canonical_edges, collect_under, csr, index_nodes, run_offsets, successors


@dataclass(frozen=True)
class DecompElement:
    """One decomposition rule (reference SimpleDecompConfigBean)."""

    from_fields: Sequence[str]
    to_fields: Sequence[str]
    edge_name: str
    from_type: str = "node"
    to_type: str = "node"


# The reference's test-bucket namespace (BucketUtils.TEST_BUCKET_PREFIX):
# buckets under it are invisible to production readers and vice versa, and
# their merges never consult the existing production graph.
TEST_BUCKET_PREFIX = "/aleph2_testing/"


def is_test_bucket(bucket_path: str) -> bool:
    return bucket_path.startswith(TEST_BUCKET_PREFIX)


def element_visibility(
    this_bucket: str,
    permitted_buckets: Sequence[str],
    membership_col: str = "a2_p",
):
    """G7 visibility predicate (the reference's per-element ``isAllowed``,
    TitanGraphBuildingUtils.java:901-919) as a pure Column expression: an
    element is visible from ``this_bucket`` iff EVERY bucket path in its
    ``a2_p`` membership list passes —

    1. the element's path equals the reader's bucket (own data always
       visible, even inside the test namespace);
    2. otherwise it FAILS when either side is under ``/aleph2_testing/``
       (test-vs-prod isolation both directions);
    3. otherwise it passes iff the path is in the reader's permission
       grants (the reference asks ISecurityService.isUserPermitted for
       ``DataBucketBean:read,write:<path>`` — here the already-resolved
       grant set, which is user-metadata-sized, not data-sized, so it
       inlines as a literal array).

    An empty or missing membership list is visible (no security applied —
    the reference's "allMatch on empty stream" comment).

    Pure predicate ⇒ Catalyst pushes it into the scan; no join, no UDF.
    """
    permitted = F.array(*[F.lit(p) for p in permitted_buckets])
    reader_is_test = is_test_bucket(this_bucket)

    def allowed(p):
        same = p == F.lit(this_bucket)
        cross_test = (
            F.lit(True)
            if reader_is_test
            else p.startswith(TEST_BUCKET_PREFIX)
        )
        return same | (~cross_test & F.array_contains(permitted, p))

    memb = F.coalesce(F.col(membership_col), F.array().cast("array<string>"))
    return F.forall(memb, allowed)


def filter_visible(
    df: DataFrame,
    this_bucket: str,
    permitted_buckets: Sequence[str],
    membership_col: str = "a2_p",
) -> DataFrame:
    """Apply :func:`element_visibility` to a vertex/edge table."""
    return df.filter(
        element_visibility(this_bucket, permitted_buckets, membership_col)
    )


def decompose(
    df: DataFrame,
    elements: Sequence[DecompElement],
    bucket_path: str = "/",
) -> tuple[DataFrame, DataFrame]:
    """G2: records → (vertices, edges).

    vertices(key struct<name,type>, label, bucket_path)
    edges(label, inV struct<name,type>, outV struct<name,type>)

    Vertices are deduped within the batch (the reference dedupes in-batch
    during onObjectBatch); null endpoints are dropped.
    """
    v_parts: list[DataFrame] = []
    e_parts: list[DataFrame] = []
    for el in elements:
        for ff in el.from_fields:
            for tf in el.to_fields:
                src = F.struct(
                    F.col(ff).cast("string").alias("name"), F.lit(el.from_type).alias("type")
                )
                dst = F.struct(
                    F.col(tf).cast("string").alias("name"), F.lit(el.to_type).alias("type")
                )
                base = df.filter(F.col(ff).isNotNull() & F.col(tf).isNotNull())
                v_parts.append(
                    base.select(src.alias("key"), F.lit(el.from_type).alias("label"))
                )
                v_parts.append(base.select(dst.alias("key"), F.lit(el.to_type).alias("label")))
                e_parts.append(
                    base.select(
                        F.lit(el.edge_name).alias("label"),
                        dst.alias("inV"),
                        src.alias("outV"),
                        F.array(F.lit(bucket_path)).alias("a2_p"),
                    )
                )
    vertices = v_parts[0]
    for p in v_parts[1:]:
        vertices = vertices.unionByName(p)
    edges = e_parts[0]
    for p in e_parts[1:]:
        edges = edges.unionByName(p)
    vertices = (
        vertices.dropDuplicates(["key"])
        .withColumn("bucket_path", F.lit(bucket_path))
        # G7 membership list: which buckets contributed this element
        # (reference GraphAnnotationBean.a2_p; merges union it)
        .withColumn("a2_p", F.array(F.lit(bucket_path)))
    )
    return vertices, edges


def merge_vertices(
    existing: DataFrame | None,
    new: DataFrame,
    first_wins_order: str | None = None,
    merge_module=None,
) -> DataFrame:
    """G4+G5: merge new vertices into the existing vertex table by key.

    Built-in merge policy = first-wins (reference SimpleGraphMergeService:
    the first element in (existing ++ new) order wins). Existing rows take
    priority; among new duplicates, ``first_wins_order`` column breaks ties
    (or arbitrary). One shuffle on the key.

    ``merge_module`` replaces the built-in policy with a user module (the
    reference's invokeUserMergeCode, TitanGraphBuildingUtils:206-314): an
    ``EnrichmentModule`` cloned per key whose batch is all candidate rows
    for that key (existing first, ``__prio`` column marks provenance) and
    which emits the winning row(s).
    """
    if existing is None and merge_module is None:
        return new.dropDuplicates(["key"])
    prioritized = (
        new.withColumn("__prio", F.lit(1))
        if existing is None
        else existing.withColumn("__prio", F.lit(0)).unionByName(
            new.withColumn("__prio", F.lit(1)), allowMissingColumns=True
        )
    )
    if merge_module is not None:
        from aleph2_contrib_spark.plans.pipeline import Pipeline, Stage

        schema = prioritized.drop("__prio").schema
        pipe = Pipeline(
            [
                Stage(
                    name="merge",
                    module=merge_module,
                    grouping_fields=("key",),
                    output_schema=schema,
                )
            ]
        )
        return pipe.run(prioritized.sparkSession, {"v": prioritized})["merge"]
    order = [F.col("__prio").asc()]
    if first_wins_order is not None:
        order.append(F.col(first_wins_order).asc())
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy(*order)
    ranked = prioritized.withColumn("__rn", F.row_number().over(w))
    if "a2_p" in prioritized.columns:
        # G7: the winning row's membership list = union over ALL candidate
        # rows of the key (the reference unions a2_p on merge so an element
        # stays visible to every bucket that contributed it). Unbounded
        # window over the same partitioning as the ranking window — Catalyst
        # merges them into the one existing key shuffle, no extra exchange.
        w_all = Window.partitionBy("key")
        # array_sort makes the persisted membership list bit-stable across
        # runs/partitionings: collect_list order depends on shuffle arrival,
        # and membership is a set, so sorting is semantics-free.
        ranked = ranked.withColumn(
            "a2_p",
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("a2_p").over(w_all)))),
        )
    return ranked.filter(F.col("__rn") == 1).drop("__rn", "__prio")


def resolve_edges(edges: DataFrame, winners: DataFrame) -> DataFrame:
    """G6: rewrite inV/outV to the winning vertex keys and dedupe edges per
    (inV, outV, label). Two keyed joins against the winner set (broadcast
    when small); self-loops (inV == outV) are preserved.

    Edges whose endpoints have no winning vertex are dropped (the reference
    filters candidates to known vertices, finalEdgeGrouping:426+).
    """
    wk = winners.select(F.col("key").alias("__wk"))
    resolved = edges.join(
        F.broadcast(wk), edges["inV"] == F.col("__wk"), "left_semi"
    ).join(
        F.broadcast(wk.withColumnRenamed("__wk", "__wk2")),
        edges["outV"] == F.col("__wk2"),
        "left_semi",
    )
    if "a2_p" in edges.columns:
        # G7: merged edge keeps the union of contributing buckets (same
        # membership-union rule as vertices); the dedup groupBy doubles as
        # the union aggregation — still one shuffle.
        others = [
            c for c in edges.columns if c not in ("inV", "outV", "label", "a2_p")
        ]
        # Deterministic merge of duplicate (inV,outV,label) rows: membership
        # is a set → array_sort for bit-stable output; non-key columns are
        # taken from ONE coherent row (the lexicographically-least struct)
        # rather than per-column unordered first(), which could mix rows.
        agg = [
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("a2_p")))
            ).alias("a2_p")
        ]
        if others:
            agg.append(F.min(F.struct(*[F.col(c).alias(c) for c in others])).alias("__row"))
            merged = resolved.groupBy("inV", "outV", "label").agg(*agg)
            return merged.select(
                "inV", "outV", "label", "a2_p",
                *[F.col(f"__row.{c}").alias(c) for c in others],
            )
        return resolved.groupBy("inV", "outV", "label").agg(*agg)
    return resolved.dropDuplicates(["inV", "outV", "label"])


def build_graph(
    records: DataFrame,
    elements: Sequence[DecompElement],
    existing_vertices: DataFrame | None = None,
    existing_edges: DataFrame | None = None,
    bucket_path: str = "/",
) -> tuple[DataFrame, DataFrame]:
    """End-to-end G2→G6: decompose records, merge vertices against the
    existing graph, resolve + merge edges. Idempotent on re-run.

    G7 test isolation: a ``/aleph2_testing/`` bucket never consults the
    existing production graph — its merge sees only its own batch
    (reference TitanGraphBuildingUtils.java:294-296: isTestBucket ⇒ no
    existing elements), so test runs cannot read or link to prod data."""
    if is_test_bucket(bucket_path):
        existing_vertices = None
        existing_edges = None
    new_v, new_e = decompose(records, elements, bucket_path)
    winners = merge_vertices(existing_vertices, new_v)
    all_edges = (
        new_e
        if existing_edges is None
        else existing_edges.unionByName(new_e, allowMissingColumns=True)
    )
    edges = resolve_edges(all_edges, winners)
    return winners, edges


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping_permille: int = 850,
    scale: int = 1_000_000,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the canonical
    iterative graph analytic the reference's Titan-backed graph service
    defers to its store (TitanGraphService.java exposes traversal, not
    analytics); here it is join-based dataflow a 1000-executor cluster
    runs natively.

    Exact integer arithmetic so results are engine-portable for
    differential testing: ranks live in ``scale`` fixed-point bigints,
    every division is an integer floor, damping is the exact rational
    ``damping_permille/1000``. One update step is

        rank'(v) = floor((1000-d)·scale/1000)
                   + floor(d · Σ_{u→v} floor(rank(u)/outdeg(u)) / 1000)

    Dangling mass (nodes with no out-edges) is dropped, not
    redistributed — the bounded-leak variant; document totals therefore
    shrink per round. Deterministic regardless of partitioning: every
    aggregate is an integer sum.

    Returns (node, rank_f6) for every distinct node.

    Plan shape at scale: per iteration, one broadcast-or-shuffle
    hash join ranks⋈edges on src (pre-partition both on the node key
    and the exchanges are reused across iterations), one groupBy dst
    with map-side partial sums, one left join back onto the node list
    to re-inject the teleport term for in-degree-0 nodes. Lineage grows
    linearly in ``iterations``; pass ``checkpoint_every`` > 0 to
    localCheckpoint periodically (mandatory beyond ~20 rounds, where
    plan compilation, not execution, becomes the bottleneck).
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = int((1000 - damping_permille) * scale // 1000)
    ranks = nodes.withColumn("rank_fx", F.lit(int(scale)).cast("long"))
    for i in range(iterations):
        contribs = (
            ranks.join(outdeg, ranks["node"] == outdeg["src"], "inner")
            .join(e, "src")
            .select(
                F.col("dst").alias("node"),
                # integer `div`, not floor(float /): double division loses
                # exactness past 2^53, breaking the bit-for-bit contract at
                # large rank magnitudes. Operands are non-negative longs, so
                # div == floor here at ANY magnitude.
                F.expr("rank_fx div outdeg").cast("long").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .withColumn("csum0", F.coalesce(F.col("csum"), F.lit(0)).cast("long"))
            .select(
                "node",
                (
                    F.lit(base)
                    # exact integer fixed-point: `div` keeps the arithmetic
                    # lossless where floor(double /) would round past 2^53
                    + F.expr(f"({int(damping_permille)} * csum0) div 1000")
                ).cast("long").alias("rank_fx"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.col("rank_fx").alias("rank_f6"))


def _np_triangle_support(Ai, Bi, nv, need_support: bool, wedge_budget: int = 200_000_000):
    """Vectorized triangle machinery over an index-mapped canonical edge
    list (``Ai < Bi`` by index, distinct, loop-free; indices in
    ``[0, nv)``) — the same degree-ordered orientation as the distributed
    :func:`triangle_count`, so both paths find every triangle exactly
    once from its (degree, id)-lowest vertex.

    Returns ``(n_triangles, support)`` where ``support`` is the per-edge
    triangle count aligned to the input edge order (``None`` unless
    ``need_support``), or ``None`` when the orientation's total wedge
    count exceeds ``wedge_budget`` (caller falls back to the distributed
    m^1.5-bounded join, which spills instead of sizing driver arrays).

    Index order equals node-value order (np.unique sorts), so the
    (degree, id) tie-break over indices reproduces the distributed
    tie-break over values exactly.
    """
    import numpy as np

    m = len(Ai)
    if m == 0:
        return 0, (np.zeros(0, dtype=np.int64) if need_support else None)
    nv64 = np.int64(nv)
    deg = np.bincount(np.concatenate([Ai, Bi]), minlength=nv)
    da, db = deg[Ai], deg[Bi]
    a_first = (da < db) | ((da == db) & (Ai < Bi))
    U = np.where(a_first, Ai, Bi).astype(np.int64)
    V = np.where(a_first, Bi, Ai).astype(np.int64)
    # order key for wedge endpoints: (deg, id), encoded dv*nv + v < nv²
    KV = deg[V].astype(np.int64) * nv64 + V
    order = np.lexsort((KV, U))
    Us, Vs = U[order], V[order]
    node_range = np.arange(nv)
    ends = np.searchsorted(Us, node_range, side="right")
    pos = np.arange(m, dtype=np.int64)
    remaining = ends[Us] - pos - 1  # wedge partners after this position
    total_wedges = int(remaining.sum())
    if total_wedges > wedge_budget:
        return None
    firsts = np.repeat(pos, remaining)
    seconds = firsts + 1 + run_offsets(remaining)
    # wedge (u; v1 ≺ v2): closing oriented edge is exactly (v1 → v2)
    wcode = Vs[firsts] * nv64 + Vs[seconds]
    osort = np.sort(Us * nv64 + Vs)
    idx = np.searchsorted(osort, wcode)
    idx_c = np.minimum(idx, m - 1)
    hit = osort[idx_c] == wcode
    n_tri = int(hit.sum())
    if not need_support:
        return n_tri, None
    fa, sb = firsts[hit], seconds[hit]
    ecode = Ai.astype(np.int64) * nv64 + Bi
    esort_order = np.argsort(ecode)
    esorted = ecode[esort_order]

    def _canon(X, Y):
        return np.minimum(X, Y) * nv64 + np.maximum(X, Y)

    allc = np.concatenate(
        [_canon(Us[fa], Vs[fa]), _canon(Us[fa], Vs[sb]), _canon(Vs[fa], Vs[sb])]
    )
    eidx = np.searchsorted(esorted, allc)
    support_sorted = np.bincount(eidx, minlength=m)
    support = np.empty(m, dtype=np.int64)
    support[esort_order] = support_sorted
    return n_tri, support


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_canonical_persisted: bool = False,
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """Exact global triangle count over an undirected graph, via
    degree-ordered orientation — the standard distributed formulation
    (each triangle is found exactly once, from its lowest-order vertex)
    and the reason this scales where a naive wedge join does not: after
    orienting every edge from the (degree, id)-smaller endpoint to the
    larger, every out-degree is O(√m), so the wedge join's blow-up is
    bounded by m^1.5 total wedges regardless of how skewed the raw
    degree distribution is (a hub with degree d would otherwise create
    d² wedges).

    Input edges may be directed/duplicated/self-looped; they are
    canonicalized (unordered distinct pairs, loops dropped) first.
    Returns one row (n_vertices, n_edges, n_triangles) — all exact
    integers.

    Plan: canonicalize (one distinct), degree count (one groupBy),
    orient (two broadcast-or-shuffle hash joins against the slim degree
    table), wedge self-join on the source (the √m-bounded step), and a
    final hash join of wedges against oriented edges. Nothing is ever
    all-pairs; every join is an equi-join. The canonical edge list and
    the oriented edge list are PERSISTED (memory-and-disk) and
    MATERIALIZED (count()) before the consuming plan is built: the
    oriented table feeds three plan branches (both wedge sides + the
    closing join) and the edge list two — a lazy persist leaves all
    branches racing to compute the same upstream inside one job (each
    scheduled task computes its partition from scratch until the cache
    block lands, so the canonicalize+orient subtree runs up to 3x and
    the single-action plan carries ~80 duplicated Exchanges; measured
    20.4 s -> 11.9 s warm at sf0.1 from materializing both). On the
    driver path the canonical list is released before returning; on the
    distributed path both lists stay cached for the lazy result until the
    caller unpersists them or clears the cache (the CacheManager holds
    them, so the context cleaner never reclaims them).
    """
    from pyspark import StorageLevel

    spark = edges.sparkSession
    if assume_canonical_persisted:
        # Caller guarantees (src, dst) is already the canonical
        # undirected edge list (src < dst, distinct, loop-free) AND
        # already persisted+materialized — skip the redundant
        # canonicalize shuffle and serve every branch from the caller's
        # cache (global_graph_stats shares one canonical subtree this
        # way instead of re-deriving it per scalar).
        e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    else:
        e = canonical_edges(edges, src_col, dst_col).persist(StorageLevel.MEMORY_AND_DISK)
    epdf = collect_under(e, driver_cap_edges)
    if epdf is not None:
        # Hybrid, like bfs_levels/coreness: under the cap the wedge join
        # costs more in scheduled stages than in work — run the SAME
        # degree-ordered orientation vectorized on the driver (guide
        # §4.1). Falls back to the distributed join if the orientation's
        # wedge total would blow the driver-array budget (the m^1.5 worst
        # case the join spills through).
        nodes, Ai, Bi = index_nodes(epdf["a"], epdf["b"])
        got = _np_triangle_support(Ai, Bi, len(nodes), need_support=False)
        if got is not None:
            if not assume_canonical_persisted:
                e.unpersist()
            return spark.createDataFrame(
                [(len(nodes), len(epdf), int(got[0]))],
                schema="n_vertices long, n_edges long, n_triangles long",
            )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    oriented.count()
    x, y = oriented.alias("x"), oriented.alias("y")
    # wedge (u; v1 ≺ v2) with ≺ the SAME (degree, id) order used to orient,
    # so the closing edge — if it exists — is exactly (v1 → v2)
    v1_first = (F.col("x.dv") < F.col("y.dv")) | (
        (F.col("x.dv") == F.col("y.dv")) & (F.col("x.v") < F.col("y.v"))
    )
    wedges = (
        x.join(y, F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.v") != F.col("y.v"))
        .filter(v1_first)
        .select(F.col("x.v").alias("wb"), F.col("y.v").alias("wc"))
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("wb"), F.col("v").alias("wc")),
        ["wb", "wc"],
    )
    return (
        oriented.agg(F.count(F.lit(1)).alias("n_edges"))  # |oriented| == |e|
        .join(deg.agg(F.count(F.lit(1)).alias("n_vertices")))
        .join(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
        .select("n_vertices", "n_edges", "n_triangles")
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    max_iters: int = 4,
    broadcast_frontier: bool = False,
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance (≤ ``max_iters``) from any
    seed node, following edge direction — reachability tiers, blast-
    radius analysis, and the traversal primitive the reference's graph
    service delegates to its store (TitanGraphService exposes Tinkerpop
    traversal; this is the dataflow form a Spark cluster runs natively).

    Returns (node, level) for every reached node, level = exact minimum
    hop count (0 for seeds). Deterministic: levels are integers and every
    step is a min-aggregate — no tie-breaking needed.

    Plan shape: per round, one equi-join frontier⋈edges on the source
    key plus a min-groupBy — the frontier (not the full level table)
    drives each join, so round cost tracks the expanding wave, and a
    node reached twice collapses by min. Lineage grows linearly with
    rounds; checkpoint beyond ~20 (see pagerank). Deep-diameter graphs
    at 100 TB want the O(log d) pointer-jumping variant
    (dedup.connected_components) instead; BFS levels by hops are what
    pointer jumping cannot give you.
    """
    from pyspark import StorageLevel

    # Pre-partition the edge table on the join key ONCE: every round's
    # frontier⋈edges then reuses this persisted partitioning and only
    # the (small) frontier moves — otherwise each round re-shuffles the
    # full edge table. ``broadcast_frontier=True`` removes even that
    # exchange (right when frontiers are known-small, e.g. seeded
    # reachability); leave it off for wavefronts that can approach the
    # graph's size.
    spark = edges.sparkSession

    # Hybrid, like dedup.connected_components: a BFS round is a join +
    # anti-join + count — on a SMALL graph the per-round job overhead
    # (≥3 scheduled stages × max_iters) dwarfs the work, so graphs under
    # ``driver_cap_edges`` solve with an exact driver-side BFS in one
    # collect (identical levels by construction). The distributed loop
    # below is the 100 TB path; the probe is the bounded collect itself.
    slim = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
    epdf = collect_under(slim, driver_cap_edges)
    if epdf is not None:
        # Vectorized driver BFS: the row-at-a-time form (collect() of
        # pickled Rows + dict/deque loop + tuple-list re-upload) spent
        # its time on the Python boundary, not the traversal — Arrow
        # both ways + numpy frontier sweeps cut the gate's driver phase
        # from seconds to milliseconds at the 2M-edge cap (guide §4:
        # batch the boundary, vectorize inside).
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import IntegerType, StructField, StructType

        spdf = seeds.select(F.col(node_col).alias("node")).distinct().toPandas()
        nodes_all, Si, Di, seed_idx = index_nodes(epdf["__s"], epdf["__d"], spdf["node"])
        nv = len(nodes_all)
        indptr, nbrs = csr(Si, Di, nv)
        level = np.full(nv, -1, dtype=np.int64)
        level[seed_idx] = 0
        frontier = seed_idx
        for i in range(1, max_iters + 1):
            nxt = np.unique(successors(indptr, nbrs, frontier)[0])
            nxt = nxt[level[nxt] < 0]
            if len(nxt) == 0:
                break
            level[nxt] = i
            frontier = nxt
        reached = level >= 0
        node_type = seeds.select(F.col(node_col)).schema[0].dataType
        out_schema = StructType(
            [StructField("node", node_type), StructField("level", IntegerType())]
        )
        return spark.createDataFrame(
            pd.DataFrame(
                {"node": nodes_all[reached], "level": level[reached].astype("int32")}
            ),
            schema=out_schema,
        )

    e = (
        slim
        .repartition("__s")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    levels = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("level", F.lit(0))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Per-round persistence is load-bearing, not a tweak: frontier feeds
    # both the emptiness probe and the next round, and levels feeds the
    # anti-join of EVERY later round — unpersisted, round i re-derives
    # rounds 1..i-1 from scratch on each branch (measured superlinear
    # blowup). Old round states are unpersisted once the next is
    # materialized.
    frontier = levels
    for i in range(1, max_iters + 1):
        f = F.broadcast(frontier) if broadcast_frontier else frontier
        nxt = (
            f.join(e, f["node"] == e["__s"])
            .select(F.col("__d").alias("node"), F.lit(i).alias("level"))
            .distinct()
        )
        # new frontier: nodes not already reached at a lower level
        frontier = (
            nxt.join(levels, "node", "left_anti")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # one action per round: the count doubles as the emptiness probe
        # and the materialization barrier (nxt.distinct() already bounds
        # duplicate frontier rows; cross-round dupes are impossible —
        # the anti-join excludes every previously reached node)
        if frontier.count() == 0:
            frontier.unpersist()
            break
        new_levels = levels.unionByName(frontier).persist(StorageLevel.MEMORY_AND_DISK)
        levels = new_levels
    e.unpersist()
    # a node can appear once per reaching round pre-min; collapse here
    return (
        levels.groupBy("node")
        .agg(F.min("level").alias("level"))
        .select("node", F.col("level").cast("int").alias("level"))
    )


def kcore_decomposition(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 2,
    max_rounds: int = 50,
    return_degrees: bool = False,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """k-core of an undirected graph: the maximal subgraph where every
    vertex keeps degree ≥ k — the standard peel for separating a dense
    community core from its periphery (spam-farm detection, influence
    seeding, visual de-cluttering).

    Iterative peeling: drop vertices with degree < k, recompute degrees
    on the induced subgraph, repeat to fixpoint. Deterministic — the
    fixpoint is unique regardless of peel order. Returns the surviving
    canonical edge list (a, b), a < b.

    Plan shape — peel by REMOVAL, not retention: each round computes
    degrees (the round's one edge-sized shuffle), then counts the
    DROPPED vertex set (degree < k). Convergence (no drops) is detected
    from that node-sized count BEFORE any new edge set is built, and the
    prune applies the dropped set as a broadcast ANTI-join whenever it
    fits (``broadcast_drop_cap``): on a monotone peel the dropped set is
    typically a sliver of the graph, so pruning is map-side — no edge
    shuffle at all — where the retention formulation paid two edge-sized
    semi-join shuffles per round. Falls back to survivor semi-joins for
    avalanche rounds that drop more than the cap. Rounds are bounded by
    ``max_rounds`` (raises if exceeded, like connected_components); edge
    state is persisted per round and released when the next materializes.

    Hybrid execution (the bfs_levels/connected_components contract): a
    peel whose k sits near the mean degree strips one thin shell per
    round — dozens to hundreds of rounds, each a full distributed job,
    even on a small graph (measured ~200 s for 100k edges at k≈mean).
    So when the canonical edge list is ≤ ``driver_max_edges`` (2M edges
    ≈ 32 MB of int64; size to spark.driver.maxResultSize, 0 disables —
    driver-memory implication documented here as for
    connected_components) the peel itself runs on the driver over two
    numpy arrays — every round a vectorized pass, the whole sequence
    sub-second. Only the RESULT then touches the cluster: the degree
    table (node-sized) for ``return_degrees``, or the surviving edge
    list re-uploaded via ``createDataFrame`` (bounded: ≤
    ``driver_max_edges`` rows ≈ 32 MB at the default cap) for the
    edge-list form — the result carries no lineage on the canonical
    edge cache, which is released immediately instead of leaking a
    MEMORY_AND_DISK copy per call. Identical unique fixpoint on either
    path.
    """
    from pyspark import StorageLevel

    broadcast_drop_cap = 500_000  # rows; ~8 MB of bigints per side
    e = canonical_edges(edges, src_col, dst_col).persist(StorageLevel.MEMORY_AND_DISK)

    def _empty_degrees():
        return e.select(F.col("a").alias("n")).withColumn(
            "d", F.lit(0).cast("long")
        ).limit(0)

    pdf = collect_under(e, driver_max_edges)
    if pdf is not None:
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        e.unpersist()
        nodes_all, Ai, Bi = index_nodes(pdf["a"], pdf["b"])
        nv = len(nodes_all)
        # No max_rounds here: that bound exists to cap DISTRIBUTED rounds
        # (each a full job); driver rounds cost microseconds and every
        # iteration strictly shrinks the edge set, so termination is
        # guaranteed within n_edges iterations — exactly the deep-peel
        # workload this path exists for.
        while len(Ai) > 0:
            deg = np.bincount(Ai, minlength=nv) + np.bincount(Bi, minlength=nv)
            bad = (deg > 0) & (deg < k)
            if not bad.any():
                break
            keep = ~(bad[Ai] | bad[Bi])
            Ai, Bi = Ai[keep], Bi[keep]
        spark = edges.sparkSession
        node_type = e.schema["a"].dataType  # works for int and string ids
        if len(Ai) == 0:
            return _empty_degrees() if return_degrees else e.limit(0)
        if return_degrees:
            deg = np.bincount(Ai, minlength=nv) + np.bincount(Bi, minlength=nv)
            present = deg > 0
            return spark.createDataFrame(
                pd.DataFrame(
                    {"n": nodes_all[present], "d": deg[present].astype("int64")}
                ),
                schema=T.StructType(
                    [T.StructField("n", node_type), T.StructField("d", T.LongType())]
                ),
            )
        # re-upload the surviving edges (bounded: ≤ driver_max_edges rows
        # ≈ 32 MB at the default cap) — the result carries no lineage on
        # the edge plan at all
        return spark.createDataFrame(
            pd.DataFrame({"a": nodes_all[Ai], "b": nodes_all[Bi]}),
            schema=T.StructType(
                [T.StructField("a", node_type), T.StructField("b", node_type)]
            ),
        )

    n_edges = e.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            return _empty_degrees() if return_degrees else e
        deg = (
            e.select(F.col("a").alias("n"))
            .unionByName(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        dropped = deg.filter(F.col("d") < k).select("n")
        n_dropped = dropped.count()
        if n_dropped == 0:
            if return_degrees:
                # deg stays persisted — it is the result (already
                # materialized by the count above, so dropping e's cache
                # does not trigger recompute)
                e.unpersist()
                return deg.select("n", "d")
            deg.unpersist()
            return e
        if n_dropped <= broadcast_drop_cap:
            pruned = (
                e.join(F.broadcast(dropped.withColumnRenamed("n", "a")), "a", "left_anti")
                .join(F.broadcast(dropped.withColumnRenamed("n", "b")), "b", "left_anti")
                .select("a", "b")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        else:
            keep = deg.filter(F.col("d") >= k).select("n")
            pruned = (
                e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
                .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
                .select("a", "b")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        n_edges = pruned.count()
        e.unpersist()
        deg.unpersist()
        e = pruned
    raise RuntimeError(
        f"kcore_decomposition did not converge in {max_rounds} rounds; "
        "raise max_rounds for pathologically deep peel sequences"
    )


def coreness_decomposition(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 100,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Full core decomposition: per-vertex core numbers c(v) = max k such
    that v belongs to the k-core — the whole-graph generalization of
    ``kcore_decomposition`` (spam-core ranking, community-strength
    scoring, degeneracy ordering all want the full decomposition, and one
    decomposition amortizes the deep per-k peel cost). Returns
    (node, coreness); isolated vertices never appear (no edges → no row),
    matching kcore_decomposition's edge-list domain.

    Two paths, identical unique fixpoint (the kcore/bfs/cc hybrid
    contract):

    - Driver-exact peel when the canonical edge list fits under
      ``driver_max_edges`` (2M edges ≈ 32 MB of int64; same
      driver-memory note as kcore_decomposition): ascending-k removal
      peel over two numpy arrays — vertices stripped while peeling to
      the k-core have coreness k-1. Microseconds per round; the result
      is re-uploaded bounded (≤ nodes rows) with no lineage on the
      cached edges.
    - Distributed h-index fixpoint above the cap: init c₀(v) = deg(v),
      then iterate c_{t+1}(v) = H({c_t(u) : u ~ v}) where H is the
      h-index (the largest h with ≥ h neighbors of value ≥ h). The
      iteration is monotone non-increasing and converges exactly to the
      coreness (Lü et al., "The H-index of a network node and its
      relation to degree and coreness", Nat. Commun. 7:10168, 2016).
      Each round is one edge-sized join + one per-vertex window — two
      shuffles on the SAME vertex key, so Catalyst reuses the exchange;
      convergence is detected from a node-sized changed-count. Rounds
      are bounded by ``max_rounds`` (raises if exceeded) — measured
      depth grows slowly (10/19/38 rounds at sf0.001/0.01/0.1 on the
      co-purchase graph), far under the bound.
    """
    from pyspark import StorageLevel

    e = canonical_edges(edges, src_col, dst_col).persist(StorageLevel.MEMORY_AND_DISK)
    pdf = collect_under(e, driver_max_edges)
    if pdf is not None:
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        e.unpersist()
        # The coreness array keeps a slot for EVERY node that ever had an
        # edge: a vertex whose entire neighborhood is peeled in one round
        # (star center next to a surviving component) is picked up by a
        # later frontier pass instead of silently vanishing from the edge
        # array (that lost-vertex bug is pinned by the star+triangle case
        # in tests/test_graph.py).
        nodes_all, Ai, Bi = index_nodes(pdf["a"], pdf["b"])
        nv = len(nodes_all)
        # Ascending-k FRONTIER peel over a CSR adjacency: entering level
        # k the surviving graph is the (k-1)-core; vertices removed while
        # peeling to the k-core have coreness exactly k-1 (identical
        # fixpoint to the remove-and-recount formulation, pinned equal in
        # tests/test_graph.py). Degrees are maintained INCREMENTALLY —
        # each removed vertex decrements its CSR neighbors once — so the
        # whole peel is O(E + V·passes) instead of the previous
        # O(E·passes) full bincount-and-compact per pass (measured 188
        # passes on the sf0.1 co-purchase graph: 1.96 s -> 0.32 s).
        indptr, nbrs = csr(np.concatenate([Ai, Bi]), np.concatenate([Bi, Ai]), nv)
        cur = np.diff(indptr)
        coreness = np.full(nv, -1, dtype=np.int64)
        alive = np.ones(nv, dtype=bool)
        remaining = nv
        k = 2
        while remaining > 0:
            frontier = np.nonzero(alive & (cur < k))[0]
            if len(frontier) == 0:
                # whole surviving graph is a (min-degree)-core: jump the
                # level there so degree-distribution gaps don't cost one
                # empty O(V) pass per skipped k
                k = max(k + 1, int(cur[alive].min()) + 1)
                continue
            while len(frontier) > 0:
                coreness[frontier] = k - 1
                alive[frontier] = False
                remaining -= len(frontier)
                cur = cur - np.bincount(successors(indptr, nbrs, frontier)[0], minlength=nv)
                frontier = np.nonzero(alive & (cur < k))[0]
        return edges.sparkSession.createDataFrame(
            pd.DataFrame({"node": nodes_all, "coreness": coreness}),
            schema=T.StructType(
                [
                    T.StructField("node", e.schema["a"].dataType),
                    T.StructField("coreness", T.LongType()),
                ]
            ),
        )

    from pyspark.sql import Window

    und = (
        e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(e.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c = (
        und.groupBy(F.col("x").alias("n"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c.count()
    e.unpersist()
    w = Window.partitionBy("n").orderBy(F.col("cv").desc())
    for _ in range(max_rounds):
        nxt = (
            und.join(c.select(F.col("n").alias("y"), F.col("c").alias("cv")), "y")
            .select(F.col("x").alias("n"), "cv")
            .withColumn("rn", F.row_number().over(w))
            .groupBy("n")
            .agg(F.max(F.least(F.col("rn").cast("long"), F.col("cv"))).alias("c"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        changed = nxt.join(c.withColumnRenamed("c", "c_prev"), "n").filter(
            F.col("c") != F.col("c_prev")
        ).count()
        c.unpersist()
        c = nxt
        if changed == 0:
            und.unpersist()
            return c.select(F.col("n").alias("node"), F.col("c").alias("coreness"))
    raise RuntimeError(
        f"coreness_decomposition did not converge in {max_rounds} h-index rounds"
    )


def coreness_oracle_sql(edge_sql: str, rounds: int = 25) -> str:
    """ANSI-SQL replica of ``coreness_decomposition`` for differential
    testing: the h-index fixpoint iteration UNROLLED to ``rounds``
    (recursive CTEs cannot window over their own working table). Extra
    rounds past convergence are no-ops, so ``rounds`` only needs to be an
    upper bound on the fixpoint depth for the dataset at hand. Emits
    (node, coreness); when the bound was too small a sentinel row with
    coreness = -1 (impossible: real coreness ≥ 1 on the edge-list domain)
    is appended, so an under-provisioned oracle is distinguishable from
    an engine mismatch. ``edge_sql`` must yield a canonical (a, b) edge
    list (a < b, distinct, no loops)."""
    parts = [
        f"WITH e0 AS MATERIALIZED ({edge_sql})",
        ", und AS MATERIALIZED (SELECT a AS x, b AS y FROM e0 "
        "UNION ALL SELECT b, a FROM e0)",
        ", c0 AS MATERIALIZED (SELECT x AS n, count(*) AS c FROM und GROUP BY x)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f", c{i} AS MATERIALIZED (SELECT n, max(least(rn, cv)) AS c FROM ("
            f"SELECT u.x AS n, p.c AS cv, "
            f"row_number() OVER (PARTITION BY u.x ORDER BY p.c DESC) AS rn "
            f"FROM und u JOIN c{i - 1} p ON u.y = p.n) GROUP BY n)"
        )
    parts.append(
        f" SELECT n AS node, CAST(c AS BIGINT) AS coreness FROM c{rounds}"
        f" UNION ALL SELECT NULL AS node, CAST(-1 AS BIGINT) AS coreness"
        f" WHERE (SELECT count(*) FROM c{rounds} a JOIN c{rounds - 1} b"
        f" ON a.n = b.n AND a.c != b.c) != 0"
    )
    return "".join(parts)


def kcore_oracle_sql(edge_sql: str, k: int, rounds: int = 10) -> str:
    """ANSI-SQL replica of ``kcore_decomposition`` for differential testing:
    the iterative peel UNROLLED to a fixed number of rounds (recursive CTEs
    cannot re-aggregate degrees over their own working table, so the
    fixpoint loop is expanded textually — extra rounds past convergence are
    no-ops, so ``rounds`` only needs to be an upper bound on the peel depth
    for the dataset at hand; the gate's graph converges in ≤ 9 rounds at
    every tested sf). ``edge_sql`` must yield a canonical (a, b) edge list
    (a < b, distinct, no loops). Emits (node, core_deg): every surviving
    vertex with its degree inside the k-core — a full-strength checksum of
    the surviving edge set at 1/50th the row count."""
    # AS MATERIALIZED is load-bearing: DuckDB otherwise inlines every CTE
    # reference, and with e{i} referenced 5x per round the expansion is
    # 5^rounds scans of the base table — fd exhaustion before round 10.
    parts = [f"WITH e0 AS MATERIALIZED ({edge_sql})"]
    for i in range(rounds):
        parts.append(
            f", d{i} AS MATERIALIZED (SELECT n, count(*) AS d FROM "
            f"(SELECT a AS n FROM e{i} UNION ALL SELECT b FROM e{i}) GROUP BY n)"
            f", k{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE d >= {int(k)})"
            f", e{i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{i} e "
            f"JOIN k{i} x ON e.a = x.n JOIN k{i} y ON e.b = y.n)"
        )
    # Convergence sentinel: a too-small ``rounds`` bound would otherwise
    # silently return a non-converged core and the differential gate would
    # report a false Spark failure. When the last two edge sets differ, a
    # row with core_deg = -1 (impossible for a real degree) is appended so
    # the mismatch is attributable to the oracle bound, not the engine.
    parts.append(
        f" SELECT n AS node, count(*) AS core_deg FROM "
        f"(SELECT a AS n FROM e{rounds} UNION ALL SELECT b FROM e{rounds}) GROUP BY n"
        f" UNION ALL SELECT NULL AS node, -1 AS core_deg"
        f" WHERE (SELECT count(*) FROM e{rounds}) != (SELECT count(*) FROM e{rounds - 1})"
    )
    return "".join(parts)


def lpa_communities(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 3,
    checkpoint_every: int = 0,
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """Synchronous label-propagation community detection over an
    undirected graph — the cheap community analytic (spam clusters,
    boilerplate families, topical groups) the reference's graph store
    leaves to traversals, expressed as fixed-round join dataflow.

    Every node starts labeled with its own id; each round, every node
    SIMULTANEOUSLY adopts the most frequent label among its neighbors,
    ties broken toward the SMALLEST label. Synchronous update + counted
    ties make the result fully deterministic for a given round count —
    no dependence on visit order or partitioning (asynchronous LPA is
    famously order-dependent; determinism is the differential-testing
    contract here, and oscillation is bounded by the fixed ``rounds``).

    Returns (node, community) for every distinct endpoint.

    Plan shape at scale: the symmetrized, deduped edge list is persisted
    and pre-partitioned on the neighbor key ONCE; each round is one
    labels⋈edges hash join on that key, one groupBy(node, label) with
    map-side partial counts, and one per-node argmax window over the
    counted label table (rows = distinct (node, neighbor-label) pairs,
    already far smaller than the edge list). Labels persist per round so
    no round re-derives its predecessor; ``checkpoint_every`` bounds
    lineage for deep runs, same contract as pagerank.
    """
    from pyspark.sql import Window

    e = canonical_edges(edges, src_col, dst_col)
    epdf = collect_under(e, driver_cap_edges)
    if epdf is not None:
        # Hybrid fast path (bfs/kcore/scc discipline): each synchronous
        # round costs a join + groupBy + window distributed — ~3 jobs of
        # fixed latency that dwarf the work under the cap. The update
        # rule (most frequent neighbor label, ties to the SMALLEST
        # label, all nodes simultaneously) is fully deterministic, so
        # the vectorized form returns identical labels by construction.
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        spark = edges.sparkSession
        node_type = e.schema["a"].dataType
        nodes_all, Ai, Bi = index_nodes(epdf["a"], epdf["b"])
        U = np.concatenate([Ai, Bi])  # symmetrized
        V = np.concatenate([Bi, Ai])
        nv = np.int64(len(nodes_all))
        labels_np = np.arange(nv, dtype=np.int64)
        for _ in range(rounds):
            codes = U * nv + labels_np[V]
            uniq, cnt = np.unique(codes, return_counts=True)
            u_of, lab_of = uniq // nv, uniq % nv
            # per node: highest count, ties to smallest label — lexsort
            # majors last: (node asc, count desc, label asc)
            order = np.lexsort((lab_of, -cnt, u_of))
            _, first = np.unique(u_of[order], return_index=True)
            winners = order[first]
            new_labels = labels_np.copy()
            new_labels[u_of[winners]] = lab_of[winners]
            labels_np = new_labels
        return spark.createDataFrame(
            pd.DataFrame(
                {"node": nodes_all, "community": nodes_all[labels_np]}
            ),
            schema=T.StructType(
                [
                    T.StructField("node", node_type),
                    T.StructField("community", node_type),
                ]
            ),
        )
    und = (
        e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .repartition("v")
        .persist()
    )
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).persist()
    try:
        for i in range(rounds):
            counted = (
                und.join(labels, und["v"] == labels["node"])
                .select(F.col("u"), F.col("label"))
                .groupBy("u", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            w = Window.partitionBy("u").orderBy(F.col("c").desc(), F.col("label").asc())
            new_labels = (
                counted.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(F.col("u").alias("node"), "label")
                .persist()
            )
            if checkpoint_every and (i + 1) % checkpoint_every == 0:
                new_labels = new_labels.localCheckpoint(eager=False)
            labels.unpersist()
            labels = new_labels
        return labels.select("node", F.col("label").alias("community"))
    finally:
        und.unpersist()


def lpa_oracle_sql(edges_sql: str, rounds: int = 3) -> str:
    """DuckDB replica of lpa_communities: the synchronous rounds unrolled
    textually (same technique as kcore_oracle_sql). ``edges_sql`` must
    select columns (src, dst)."""
    parts = [
        f"""
        WITH raw AS ({edges_sql}),
        e0 AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM raw WHERE src <> dst
        ),
        und AS (
            SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b AS u, a AS v FROM e0
        ),
        l0 AS (SELECT DISTINCT u AS node, u AS label FROM und)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
        l{i} AS (
            SELECT u AS node, label FROM (
                SELECT n.u, l.label,
                       row_number() OVER (PARTITION BY n.u
                                          ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM und n JOIN l{i - 1} l ON l.node = n.v
                GROUP BY n.u, l.label
            ) WHERE rn = 1
        )"""
        )
    parts.append(f"\n        SELECT node, label AS community FROM l{rounds}")
    return "".join(parts)

def link_prediction(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    top_n: int = 20,
    max_witness_degree: int | None = None,
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """Neighborhood-based link prediction: rank the NON-adjacent vertex
    pairs of an undirected graph by common-neighbor count, with an
    exact-rational Jaccard coefficient as tie-break — the classic
    common-neighbors / Jaccard predictors (Liben-Nowell & Kleinberg),
    kept engine-exact by avoiding floats entirely.

    Reference parity: extends the graph-merge family (reference
    SimpleGraphMergeService.java:61-99 materializes candidate edges
    between existing vertices); this is the analytics-side "which edges
    are missing" question over the same decomposed vertex/edge model.

    Semantics
    ---------
    * Edges are canonicalized first (unordered distinct pairs, loops
      dropped); degrees are computed on the canonical graph.
    * cn(a,b) = number of shared neighbors, counted via *witness*
      expansion: every vertex w emits each unordered pair of its
      neighbors once. ``max_witness_degree`` (optional) drops vertices
      with degree > cap from the WITNESS role only — hub witnesses are
      the quadratic term (C(d,2) pairs per witness) and carry the least
      signal (a neighbor shared through a hub says little; Adamic-Adar
      formalizes the same intuition by down-weighting high-degree
      witnesses toward 0). Degrees in the Jaccard term always remain
      the true degrees, and capped vertices still appear in predicted
      pairs through their other witnesses.
    * Already-adjacent pairs are removed (left-anti join on the
      canonical edge list).
    * jaccard_permille = (1000*cn) div (da + db - cn): integral div of
      exact integers, so identical in every engine.
    * Output: top ``top_n`` rows ordered by (cn DESC, jaccard_permille
      DESC, a ASC, b ASC) — a total order, hence deterministic.

    Scale design: one shuffle groups neighbors per witness (collect_set
    bounded by the degree cap), pair expansion is partition-local array
    code (no Python), the pair count is a second keyed shuffle, the
    adjacency exclusion is an equi-anti-join, and the global top-n
    compiles to TakeOrderedAndProject (no full sort). With witness cap
    W the expanded pair volume is <= m*W/2 rows regardless of skew.
    The canonical edge list and the grouped adjacency are persisted
    (each feeds two plan branches — e: expansion + anti-join, grouped:
    pair expansion + both degree joins). On the driver path the edge
    list is released before returning; on the distributed path both stay
    cached for the lazy result until the caller unpersists them or
    clears the cache.
    """
    from pyspark import StorageLevel

    e = canonical_edges(edges, src_col, dst_col).persist(StorageLevel.MEMORY_AND_DISK)
    epdf = collect_under(e, driver_cap_edges)
    if epdf is not None:
        # Hybrid fast path: the witness pair expansion, adjacency
        # exclusion, exact-integer Jaccard and total-order top-n are all
        # integer-deterministic, so the vectorized driver form returns
        # the identical rows. Expansion budget-guarded (the distributed
        # path's m·W/2 bound, same fallback discipline as
        # triangle_count).
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        spark = edges.sparkSession
        node_type = e.schema["a"].dataType
        nodes_all, Ai, Bi = index_nodes(epdf["a"], epdf["b"])
        ne = len(epdf)
        nv = np.int64(len(nodes_all))
        # witness expansion: neighbors sorted per witness -> p < q pairs
        indptr, Ns = csr(np.concatenate([Ai, Bi]), np.concatenate([Bi, Ai]), int(nv))
        deg_np = np.diff(indptr)
        Ws = np.repeat(np.arange(nv, dtype=np.int64), deg_np)
        remaining = indptr[Ws + 1] - np.arange(len(Ws), dtype=np.int64) - 1
        if max_witness_degree is not None:
            remaining[deg_np[Ws] > int(max_witness_degree)] = 0
        total = int(remaining.sum())
        if total <= 400_000_000:
            firsts = np.repeat(np.arange(len(Ws), dtype=np.int64), remaining)
            seconds = firsts + 1 + run_offsets(remaining)
            codes = Ns[firsts] * nv + Ns[seconds]
            uniq, cn = np.unique(codes, return_counts=True)
            # exclude already-adjacent pairs
            ecode = np.sort(Ai * nv + Bi)
            eidx = np.minimum(np.searchsorted(ecode, uniq), max(ne - 1, 0))
            nonadj = (ecode[eidx] != uniq) if ne else np.ones(len(uniq), bool)
            uniq, cn = uniq[nonadj], cn[nonadj].astype(np.int64)
            pa, pb = uniq // nv, uniq % nv
            da_np, db_np = deg_np[pa], deg_np[pb]
            jp = (1000 * cn) // (da_np + db_np - cn)
            # total order: cn desc, jp desc, a asc, b asc
            sel = np.lexsort((pb, pa, -jp, -cn))[: int(top_n)]
            e.unpersist()
            return spark.createDataFrame(
                pd.DataFrame(
                    {
                        "a": nodes_all[pa[sel]],
                        "b": nodes_all[pb[sel]],
                        "cn": cn[sel],
                        # the distributed path's da/db come from
                        # F.size(ns) — IntegerType, match it exactly
                        "da": da_np[sel].astype("int32"),
                        "db": db_np[sel].astype("int32"),
                        "jaccard_permille": jp[sel],
                    }
                ),
                schema=T.StructType(
                    [
                        T.StructField("a", node_type),
                        T.StructField("b", node_type),
                        T.StructField("cn", T.LongType()),
                        T.StructField("da", T.IntegerType()),
                        T.StructField("db", T.IntegerType()),
                        T.StructField("jaccard_permille", T.LongType()),
                    ]
                ),
            )
    adj = e.select(F.col("a").alias("w"), F.col("b").alias("n")).unionByName(
        e.select(F.col("b").alias("w"), F.col("a").alias("n"))
    )
    # one shuffle: neighbors per witness, sorted so the local pair
    # expansion emits canonical (p < q) pairs directly
    grouped = (
        adj.groupBy("w")
        .agg(F.sort_array(F.collect_set("n")).alias("ns"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = grouped.select(F.col("w").alias("node"), F.size("ns").alias("d"))
    if max_witness_degree is not None:
        grouped = grouped.filter(F.size("ns") <= int(max_witness_degree))
    ns = F.col("ns")
    sz = F.size(ns)
    pairs = grouped.filter(sz >= 2).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), sz - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, sz),
                        lambda j: F.struct(
                            F.element_at(ns, i).alias("p"),
                            F.element_at(ns, j).alias("q"),
                        ),
                    ),
                )
            )
        ).alias("pq")
    )
    cn = pairs.groupBy(F.col("pq.p").alias("a"), F.col("pq.q").alias("b")).agg(
        F.count(F.lit(1)).alias("cn")
    )
    candidates = cn.join(e, ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    scored = (
        candidates.join(da, "a")
        .join(db, "b")
        .withColumn(
            "jaccard_permille",
            # integral div over exact longs — engine-identical, unlike
            # floor(float /) which can round before flooring
            F.expr("(1000 * cn) div (da + db - cn)").cast("long"),
        )
    )
    return (
        scored.select("a", "b", "cn", "da", "db", "jaccard_permille")
        .orderBy(
            F.col("cn").desc(),
            F.col("jaccard_permille").desc(),
            F.col("a").asc(),
            F.col("b").asc(),
        )
        .limit(top_n)
    )


def link_prediction_oracle_sql(
    edge_sql: str, top_n: int = 20, max_witness_degree: int | None = None
) -> str:
    """DuckDB replica of :func:`link_prediction`. ``edge_sql`` must
    select columns (src, dst)."""
    cap = (
        f"WHERE d <= {int(max_witness_degree)}"
        if max_witness_degree is not None
        else ""
    )
    return f"""
        WITH raw AS ({edge_sql}),
        e AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM raw WHERE src <> dst
        ),
        adj AS (
            SELECT a AS w, b AS n FROM e UNION ALL SELECT b AS w, a AS n FROM e
        ),
        deg AS (SELECT w AS node, count(*) AS d FROM adj GROUP BY w),
        wit AS (
            SELECT adj.w, adj.n FROM adj
            JOIN (SELECT node FROM deg {cap}) ok ON adj.w = ok.node
        ),
        cn AS (
            SELECT x.n AS a, y.n AS b, count(*) AS cn
            FROM wit x JOIN wit y ON x.w = y.w AND x.n < y.n
            GROUP BY x.n, y.n
        ),
        cand AS (
            SELECT cn.* FROM cn ANTI JOIN e ON cn.a = e.a AND cn.b = e.b
        )
        SELECT cand.a, cand.b, cn, da.d AS da, db.d AS db,
               CAST((1000 * cn) // (da.d + db.d - cn) AS BIGINT)
                   AS jaccard_permille
        FROM cand
        JOIN deg da ON cand.a = da.node
        JOIN deg db ON cand.b = db.node
        ORDER BY cn DESC, jaccard_permille DESC, a ASC, b ASC
        LIMIT {int(top_n)}
    """

def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
    max_iters: int = 12,
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """Multi-source weighted shortest paths (non-negative integer
    weights, edge direction followed): minimum total weight from any
    seed, exact because distances are sums/mins of integers. The
    weighted companion to :func:`bfs_levels` — cost-to-reach tiers where
    BFS gives hop tiers.

    Returns (node, dist) for every node reachable within ``max_iters``
    relaxation rounds; round i finalizes every shortest path of ≤ i
    edges (Bellman-Ford), so ``max_iters`` bounds path LENGTH, not
    weight, and must be ≥ the hop count of the longest shortest path
    for a converged answer. The loop exits early the first round
    nothing improves — the converged case, detectable because the
    improvement count doubles as the materialization barrier.

    Hybrid, like bfs_levels/kcore: graphs under ``driver_cap_edges``
    run the same bounded relaxation as three numpy arrays on the driver
    (np.minimum.at per round — vectorized, no Python per-edge loop),
    byte-equal to the distributed answer by construction. The
    distributed loop is the 100 TB path: the edge table is partitioned
    on the join key ONCE and persisted, then every round moves only the
    improved-frontier rows — join on src, min-combine per dst, compare
    against the running best (left join + filter), anti-join merge —
    with a per-round lineage cut (eager localCheckpoint) so the plan
    stays O(1) per round instead of growing exponentially.
    """
    from pyspark import StorageLevel

    spark = edges.sparkSession
    slim = edges.select(
        F.col(src_col).alias("__s"),
        F.col(dst_col).alias("__d"),
        F.col(weight_col).cast("long").alias("__w"),
    )
    seed_nodes = seeds.select(F.col(node_col).alias("node")).distinct()

    epdf = collect_under(slim, driver_cap_edges)
    if epdf is not None:
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        spdf = seed_nodes.toPandas()
        nodes_all, src, dst, seed_idx = index_nodes(epdf["__s"], epdf["__d"], spdf["node"])
        w = epdf["__w"].to_numpy(dtype=np.int64)
        INF = np.iinfo(np.int64).max // 4
        dist = np.full(len(nodes_all), INF, dtype=np.int64)
        dist[seed_idx] = 0
        for _ in range(max_iters):
            before = dist.copy()
            cand = dist[src] + w  # INF/4 headroom: no overflow
            np.minimum.at(dist, dst, cand)
            if np.array_equal(before, dist):
                break
        out_schema = T.StructType(
            [
                T.StructField("node", seed_nodes.schema[0].dataType),
                T.StructField("dist", T.LongType()),
            ]
        )
        hit = dist < INF
        return spark.createDataFrame(
            pd.DataFrame({"node": nodes_all[hit], "dist": dist[hit]}), out_schema
        )

    e = slim.repartition("__s").persist(StorageLevel.MEMORY_AND_DISK)
    # Every round state is localCheckpoint(eager=True)-ed: dists_i's plan
    # references dists_{i-1} twice (anti-join + union) and improved_i once,
    # which itself references dists_{i-1} again — without a per-round
    # lineage cut the analyzed plan grows exponentially and Catalyst
    # analysis, not execution, becomes the bottleneck by round ~10. The
    # checkpoint materializes one row per reached node (tiny next to the
    # per-round edge join); on a real cluster swap in checkpoint() with a
    # reliable dir if executor loss during the loop must be survivable.
    dists = seed_nodes.withColumn("dist", F.lit(0).cast("long")).localCheckpoint(
        eager=True
    )
    frontier = dists
    for _ in range(max_iters):
        cand = (
            frontier.join(e, frontier["node"] == e["__s"])
            .select(F.col("__d").alias("node"), (F.col("dist") + F.col("__w")).alias("cand"))
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        cur = dists.select("node", F.col("dist").alias("__cur"))
        improved = (
            cand.join(cur, "node", "left")
            .filter(F.col("__cur").isNull() | (F.col("cand") < F.col("__cur")))
            .select("node", F.col("cand").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if improved.isEmpty():
            break
        dists = (
            dists.join(improved, "node", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    e.unpersist()
    return dists.select("node", "dist")


def sssp_oracle_sql(edge_sql: str, seed_sql: str, rounds: int = 12) -> str:
    """DuckDB replica of :func:`sssp_weighted`: the relaxation rounds
    unrolled textually (same technique and AS MATERIALIZED discipline as
    kcore_oracle_sql). ``edge_sql`` must yield (src, dst, w); ``seed_sql``
    must yield (node). A convergence sentinel row (node NULL, dist -1)
    appears if the last two rounds still differ, so a too-small
    ``rounds`` bound is distinguishable from a real engine mismatch."""
    parts = [
        f"WITH e AS MATERIALIZED ({edge_sql}),"
        f" d0 AS MATERIALIZED (SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist"
        f" FROM ({seed_sql}))"
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f", d{i} AS MATERIALIZED ("
            f"SELECT node, min(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{i - 1}"
            f" UNION ALL "
            f"SELECT e.dst AS node, d.dist + e.w AS dist"
            f" FROM d{i - 1} d JOIN e ON d.node = e.src"
            f") GROUP BY node)"
        )
    r = rounds
    parts.append(
        f" SELECT node, dist FROM d{r}"
        f" UNION ALL SELECT NULL AS node, CAST(-1 AS BIGINT) AS dist"
        f" WHERE (SELECT count(*) FROM d{r}) != (SELECT count(*) FROM d{r - 1})"
        f" OR (SELECT sum(dist) FROM d{r}) != (SELECT sum(dist) FROM d{r - 1})"
    )
    return "".join(parts)


def hits_scores(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Kleinberg HITS hubs-and-authorities, exact-integer form: starting
    from h₀ = 1 everywhere, each round computes a(v) = Σ h(u) over
    in-edges u→v then h(u) = Σ a(v) over out-edges — UNNORMALIZED, so
    every score is an exact integer and rounds unroll verbatim in any
    SQL engine (same trick as the integer-div pagerank above). Relative
    ranking is unchanged by skipping per-round normalization; callers
    wanting [0,1] scores divide by the max afterwards.

    Returns (node, hub, auth) for every node incident to an edge.
    Multi-edges count with multiplicity (dedupe upstream if the graph is
    simple). Magnitudes grow by roughly (d_hub · d_auth) per round —
    pick ``iterations`` so that bound stays inside int64; a silent JVM
    wrap cannot survive the differential gate (DuckDB sums into
    HUGEINT, so any overflow diverges loudly).

    Plan: the edge list is shuffled onto src ONCE and persisted; each
    round is two slim joins (edges ⋈ scores) + two partial-aggregated
    sums — per-round cost is linear in edges, state is one row per node,
    and nothing touches the driver.
    """
    from pyspark import StorageLevel

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    # Rounds carry ONLY nodes with a nonzero score: a node whose hub (or
    # auth) is 0 contributes nothing to the next round's sums, so the
    # per-round "restore sinks/sources with 0" join against the distinct
    # node set is pure plan weight — 1 join + 1 distinct recompute per
    # round removed; the zeros are restored ONCE on the final projection.
    # Round 1's h₀ = 1-everywhere join likewise collapses to a plain
    # in-degree count (every edge's src has hub exactly 1).
    h = None
    for i in range(iterations):
        if h is None:
            a = (
                e.groupBy(F.col("__d").alias("node"))
                .agg(F.count(F.lit(1)).cast("long").alias("auth"))
            )
        else:
            a = (
                e.join(h, e["__s"] == h["node"])
                .groupBy(F.col("__d").alias("node"))
                .agg(F.sum("hub").alias("auth"))
            )
        h = (
            e.join(a, e["__d"] == a["node"])
            .groupBy(F.col("__s").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        )
        last_a = a
    out = (
        nodes.join(h, "node", "left")
        .join(last_a, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
        )
        # eager: one row per node, materialized now so the edge cache can
        # be RELEASED before returning (a lazily-returned plan would pin
        # it in the session storage pool with no one left to unpersist)
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    return out


def hits_oracle_sql(edge_sql: str, iterations: int = 3) -> str:
    """DuckDB replica of :func:`hits_scores`: the rounds unrolled
    textually (AS MATERIALIZED, like kcore/sssp oracles). ``edge_sql``
    must yield (src, dst)."""
    parts = [
        f"WITH e AS MATERIALIZED ({edge_sql}),"
        " nodes AS MATERIALIZED ("
        "SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e),"
        " h0 AS MATERIALIZED (SELECT node, CAST(1 AS HUGEINT) AS hub FROM nodes)"
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f", a{i} AS MATERIALIZED ("
            f"SELECT e.dst AS node, sum(h.hub) AS auth"
            f" FROM e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst)"
            f", h{i} AS MATERIALIZED ("
            f"SELECT n.node, CAST(coalesce(x.hub, 0) AS HUGEINT) AS hub FROM nodes n"
            f" LEFT JOIN (SELECT e.src AS node, sum(a.auth) AS hub"
            f" FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src) x"
            f" ON n.node = x.node)"
        )
    r = iterations
    parts.append(
        f" SELECT n.node, CAST(h.hub AS BIGINT) AS hub,"
        f" CAST(coalesce(a.auth, 0) AS BIGINT) AS auth"
        f" FROM nodes n JOIN h{r} h ON n.node = h.node"
        f" LEFT JOIN a{r} a ON n.node = a.node"
    )
    return "".join(parts)


def _ktruss_driver(e: DataFrame, epdf, k: int, max_rounds: int):
    """Driver-exact k-truss peel over ``epdf``, the collected canonical
    edge list ``e`` (columns a < b, distinct). Mirrors the distributed
    loop round for round: recount in-subgraph triangle support, drop
    every edge with support < k-2 simultaneously, stop at the first
    round that removes nothing (returning that round's supports). Returns ``None`` if a
    round's wedge total exceeds the driver-array budget (caller falls
    back to the distributed joins)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    spark = e.sparkSession
    out_schema = StructType(
        list(e.schema.fields) + [StructField("support", LongType())]
    )
    nodes_all, Ai, Bi = index_nodes(epdf["a"], epdf["b"])
    nv = len(nodes_all)

    def _result(support):
        return spark.createDataFrame(
            pd.DataFrame(
                {"a": nodes_all[Ai], "b": nodes_all[Bi], "support": support}
            ),
            schema=out_schema,
        )

    for _ in range(max_rounds):
        if len(Ai) == 0:
            return _result(np.zeros(0, dtype=np.int64))
        got = _np_triangle_support(Ai, Bi, nv, need_support=True)
        if got is None:
            return None
        _, support = got
        keep = support >= (k - 2)
        if keep.all():
            return _result(support)
        Ai, Bi = Ai[keep], Bi[keep]
    raise RuntimeError(f"ktruss_decomposition did not converge in {max_rounds} rounds")


def ktruss_decomposition(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 30,
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """k-truss: the maximal subgraph in which every edge closes at least
    ``k - 2`` triangles WITHIN the subgraph — the edge-strength analogue of
    the k-core (cohesive-community extraction; a k-truss is always inside
    the (k-1)-core but much denser). Returns the surviving canonical edge
    list (a, b) with each edge's final in-truss triangle support.

    Reference parity: the reference's graph store (TitanGraphService)
    exposes traversal primitives and leaves subgraph mining to the caller;
    this is the dataflow formulation a Spark cluster runs natively.

    Scale design: each peel round re-counts per-edge triangle support via
    DEGREE-ORDERED orientation (same √m-bounded wedge join as
    ``triangle_count`` — a hub with degree d would naively create d²
    wedges; orientation bounds total wedges by m^1.5). Every triangle
    (u, v1, v2) found once from its lowest-order vertex contributes
    support to its three edges through a 3-way projection union, one
    groupBy. Edges below k-2 are dropped and the loop repeats; the edge
    set only shrinks, so (count == previous count) IS the fixpoint test.
    Peeling is bounded by ``max_rounds`` (raises if exceeded). Every
    round's surviving edge set is cut from its lineage with an eager
    localCheckpoint (the pagerank/sssp/connected-components discipline):
    one round's plan embeds a whole triangle enumeration, so without the
    cut the nested plan grows by that subtree every round and Catalyst's
    own tree traversals come to dominate the runtime.
    """
    if k < 3:
        raise ValueError(f"k must be >= 3 for a k-truss, got {k}")
    from pyspark import StorageLevel

    e0 = e = canonical_edges(edges, src_col, dst_col).persist(StorageLevel.MEMORY_AND_DISK)
    epdf = collect_under(e, driver_cap_edges)
    if epdf is not None:
        # Hybrid fast path (bfs_levels/coreness discipline): every peel
        # round costs ~4 scheduled jobs distributed, which dwarfs the
        # actual work under the cap. Run the SAME round-synchronous peel
        # (recount support via degree-ordered orientation, drop all
        # edges < k-2 at once, repeat) vectorized on the driver — the
        # removal is simultaneous per round in both paths, so the
        # surviving set and final supports are identical by construction.
        out = _ktruss_driver(e, epdf, k, max_rounds)
        if out is not None:
            e.unpersist()
            return out
    n_edges = e.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            return e.withColumn("support", F.lit(0).cast("long")).limit(0)
        deg = (
            e.select(F.col("a").alias("n"))
            .unionByName(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        ed = e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a").join(
            deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b"
        )
        a_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        oriented = ed.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # Materialize BEFORE the consuming plan is built: oriented feeds
        # three branches (both wedge sides + the closing join), and a lazy
        # persist leaves them racing to compute the same degree-join
        # subtree inside one job (the triangle_count fix, measured 20.4 →
        # 11.9 s there) — here it recurs EVERY peel round.
        oriented.count()
        x, y = oriented.alias("x"), oriented.alias("y")
        v1_first = (F.col("x.dv") < F.col("y.dv")) | (
            (F.col("x.dv") == F.col("y.dv")) & (F.col("x.v") < F.col("y.v"))
        )
        tri = (
            x.join(y, F.col("x.u") == F.col("y.u"))
            .filter(F.col("x.v") != F.col("y.v"))
            .filter(v1_first)
            .select(
                F.col("x.u").alias("tu"),
                F.col("x.v").alias("tv1"),
                F.col("y.v").alias("tv2"),
            )
            .join(
                oriented.select(F.col("u").alias("tv1"), F.col("v").alias("tv2")),
                ["tv1", "tv2"],
            )
        )

        def _edge(p, q):
            return tri.select(
                F.least(F.col(p), F.col(q)).alias("a"),
                F.greatest(F.col(p), F.col(q)).alias("b"),
            )

        sup = (
            _edge("tu", "tv1")
            .unionByName(_edge("tu", "tv2"))
            .unionByName(_edge("tv1", "tv2"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
        )
        nxt = (
            e.join(sup, ["a", "b"], "left")
            .select("a", "b", F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support"))
            .filter(F.col("support") >= k - 2)
            .localCheckpoint(eager=True)
        )
        n_next = nxt.count()
        oriented.unpersist()
        if n_next == n_edges:
            e0.unpersist()
            return nxt
        e = nxt.select("a", "b")
        n_edges = n_next
    raise RuntimeError(f"ktruss_decomposition did not converge in {max_rounds} rounds")


def ktruss_oracle_sql(edge_sql: str, k: int, rounds: int = 8) -> str:
    """ANSI-SQL replica of :func:`ktruss_decomposition`: the support-peel
    unrolled to ``rounds`` (rounds past convergence are no-ops). Per round
    the in-subgraph triangle support of edge (a, b) is its common-neighbor
    count — both endpoints adjacency-joined on the shared neighbor, exact
    on the small differential graphs this gate runs on. Emits the surviving
    (a, b, support) rows; when the last two edge sets still differ a
    sentinel row with support = -1 (impossible) is appended so a too-small
    ``rounds`` bound is distinguishable from an engine mismatch.
    ``edge_sql`` must yield a canonical (a, b) edge list (a < b, distinct,
    no loops)."""
    if k < 3:
        raise ValueError(f"k must be >= 3 for a k-truss, got {k}")
    parts = [f"WITH e0 AS MATERIALIZED ({edge_sql})"]
    for i in range(rounds):
        parts.append(
            f", u{i} AS MATERIALIZED (SELECT a AS x, b AS y FROM e{i} "
            f"UNION ALL SELECT b, a FROM e{i})"
            f", s{i} AS MATERIALIZED (SELECT e.a, e.b, count(*) AS support "
            f"FROM e{i} e JOIN u{i} p ON p.x = e.a JOIN u{i} q "
            f"ON q.x = e.b AND q.y = p.y GROUP BY e.a, e.b)"
            f", e{i + 1} AS MATERIALIZED (SELECT a, b FROM s{i} "
            f"WHERE support >= {int(k) - 2})"
        )
    parts.append(
        f" SELECT e.a, e.b, CAST(coalesce(s.support, 0) AS BIGINT) AS support"
        f" FROM e{rounds} e LEFT JOIN s{rounds - 1} s ON e.a = s.a AND e.b = s.b"
        f" UNION ALL SELECT NULL, NULL, CAST(-1 AS BIGINT)"
        f" WHERE (SELECT count(*) FROM e{rounds}) != (SELECT count(*) FROM e{rounds - 1})"
    )
    return "".join(parts)


def personalized_pagerank(
    edges: DataFrame,
    seeds: Sequence[str],
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping_permille: int = 850,
    scale: int = 1_000_000,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Personalized PageRank: identical fixed-point update to
    :func:`pagerank` but the teleport mass restarts onto the SEED set
    only — the similarity/recommendation ranking ("nodes relevant to
    THESE users/docs") that global PageRank can't express. rank0(v) =
    scale·[v ∈ S]; per round,

        rank'(v) = base·[v ∈ S] + floor(d · Σ_{u→v} floor(rank(u)/outdeg(u)) / 1000)

    with base = floor((1000−d)·scale/1000). Same bounded-leak dangling
    policy, same exact-integer engine-portability contract (every
    aggregate an integer sum, every division a floor) as pagerank.

    ``seeds`` is a driver-side list: PPR queries are "a handful of
    nodes" by construction (a user, a doc, a small cohort); the seed
    membership travels as a broadcast literal set, never a shuffle.

    Plan shape at scale: per iteration one ranks⋈edges equi-join +
    one groupBy(dst) partial-agg — the rank frontier narrows to nodes
    reachable from the seeds, so iterations touch a shrinking-or-stable
    working set rather than every node; the final left join re-injects
    seed base mass only.
    """
    if not seeds:
        raise ValueError("personalized_pagerank requires at least one seed")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = int((1000 - damping_permille) * scale // 1000)
    seed_list = [str(s) for s in seeds]
    is_seed = F.col("node").isin(seed_list)
    ranks = nodes.withColumn(
        "rank_fx",
        F.when(is_seed, F.lit(int(scale))).otherwise(F.lit(0)).cast("long"),
    )
    for i in range(iterations):
        live = ranks.filter(F.col("rank_fx") > 0)
        contribs = (
            live.join(outdeg, live["node"] == outdeg["src"], "inner")
            .join(e, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fx div outdeg").cast("long").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .withColumn("csum0", F.coalesce(F.col("csum"), F.lit(0)).cast("long"))
            .select(
                "node",
                (
                    F.when(is_seed, F.lit(base)).otherwise(F.lit(0))
                    + F.expr(f"({int(damping_permille)} * csum0) div 1000")
                ).cast("long").alias("rank_fx"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.filter(F.col("rank_fx") > 0).select(
        "node", F.col("rank_fx").alias("rank_f6")
    )


def ppr_oracle_sql(
    edge_sql: str,
    seed_sql: str,
    iterations: int = 5,
    damping_permille: int = 850,
    scale: int = 1_000_000,
) -> str:
    """DuckDB replica of :func:`personalized_pagerank`, rounds unrolled
    textually (same technique as sssp_oracle_sql). ``edge_sql`` yields
    (src, dst); ``seed_sql`` yields (node)."""
    base = int((1000 - damping_permille) * scale // 1000)
    d = int(damping_permille)
    parts = [
        f"WITH e AS MATERIALIZED ({edge_sql}),",
        f"seeds AS MATERIALIZED (SELECT node FROM ({seed_sql})),",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "outdeg AS MATERIALIZED (SELECT src, count(*) AS od FROM e GROUP BY src),",
        "r0 AS (SELECT n.node,"
        f" CAST(CASE WHEN s.node IS NOT NULL THEN {int(scale)} ELSE 0 END AS BIGINT)"
        " AS rank_fx FROM nodes n LEFT JOIN seeds s ON n.node = s.node),",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" sum(CAST(r.rank_fx // o.od AS BIGINT)) AS csum"
            f" FROM r{i-1} r JOIN outdeg o ON r.node = o.src"
            f" JOIN e ON e.src = o.src WHERE r.rank_fx > 0 GROUP BY e.dst),"
        )
        parts.append(
            f"r{i} AS (SELECT n.node,"
            f" CAST(CASE WHEN s.node IS NOT NULL THEN {base} ELSE 0 END"
            f" + ({d} * COALESCE(c.csum, 0)) // 1000 AS BIGINT) AS rank_fx"
            f" FROM nodes n LEFT JOIN seeds s ON n.node = s.node"
            f" LEFT JOIN c{i} c ON n.node = c.node),"
        )
    body = "\n".join(parts).rstrip(",")
    return (
        f"{body}\n"
        f"SELECT node, rank_fx AS rank_f6 FROM r{iterations} WHERE rank_fx > 0"
    )


def bipartite_project(
    df: DataFrame,
    left_col: str,
    right_col: str,
    min_weight: int = 1,
    max_left_degree: int | None = None,
) -> DataFrame:
    """Bipartite → unipartite projection: from (left, right) incidence
    rows (order→part, user→item, author→paper), the weighted co-occurrence
    graph over the RIGHT side — weight(a, b) = number of distinct left
    keys incident to both. THE graph-construction primitive this repo's
    own gates kept inlining (the co-purchase graph feeding CC / k-core /
    LPA / PageRank is exactly this projection of lineitem).

    Returns (src, dst, weight) with src < dst, weight >= ``min_weight``.
    Incidence rows are deduplicated first, so multiplicity never inflates
    weights.

    Plan shape at 100 TB: ONE self-equi-join keyed on the left key — the
    classic quadratic hazard is a hub left key (an order with 10k parts
    contributes 50M pairs), so ``max_left_degree`` fences it: left keys
    above the cap are dropped entirely (standard practice in co-occurrence
    mining — a hub basket carries almost no signal and all of the cost).
    The degree filter is a broadcast-or-shuffle semi join on an
    O(distinct-left) table; pair volume is then bounded by cap·|incidence|.
    With min_weight >= 2 the output also drops the long singleton tail.
    """
    if min_weight < 1:
        raise ValueError(f"min_weight must be >= 1, got {min_weight}")
    inc = df.select(
        F.col(left_col).alias("__l"), F.col(right_col).alias("__r")
    ).filter(F.col("__l").isNotNull() & F.col("__r").isNotNull()).distinct()
    if max_left_degree is not None:
        keep = (
            inc.groupBy("__l")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") <= int(max_left_degree))
            .select("__l")
        )
        inc = inc.join(keep, "__l", "left_semi")
    a = inc
    b = inc.select(F.col("__l").alias("__l2"), F.col("__r").alias("__r2"))
    pairs = a.join(b, (a.__l == b.__l2) & (a.__r < b.__r2)).select(
        F.col("__r").alias("src"), F.col("__r2").alias("dst")
    )
    out = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("weight")
    )
    if min_weight > 1:
        out = out.filter(F.col("weight") >= int(min_weight))
    return out


def bipartite_project_oracle_sql(
    incidence_sql: str, min_weight: int = 1, max_left_degree: int | None = None
) -> str:
    """DuckDB replica of :func:`bipartite_project`. ``incidence_sql`` must
    yield (l, r)."""
    cap = (
        f""", keep AS (
        SELECT l FROM inc GROUP BY l HAVING count(*) <= {int(max_left_degree)}
    ), inc2 AS (SELECT inc.* FROM inc JOIN keep USING (l))"""
        if max_left_degree is not None
        else ", inc2 AS (SELECT * FROM inc)"
    )
    return f"""
WITH inc AS MATERIALIZED (
    SELECT DISTINCT l, r FROM ({incidence_sql})
    WHERE l IS NOT NULL AND r IS NOT NULL
){cap}
SELECT a.r AS src, b.r AS dst, CAST(count(*) AS BIGINT) AS weight
FROM inc2 a JOIN inc2 b ON a.l = b.l AND a.r < b.r
GROUP BY a.r, b.r
HAVING count(*) >= {int(min_weight)}
"""


def degree_assortativity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Degree assortativity of an undirected graph — the graph-QA scalar
    ("do hubs attach to hubs?"; positive = social-network-like, negative
    = hub-and-spoke) computed as the Pearson correlation of endpoint
    degrees over the edge list, emitted EXACTLY per the repo's
    discipline: one row (n_edge_ends, corr_num, var_a_num, var_b_num)
    with corr = corr_num / sqrt(var_a·var_b) left to the caller (no
    sqrt, no float — engine-portable).

    Semantics: edges are canonicalized (undirected, deduped, self-loops
    dropped); each edge contributes BOTH orientations so the measure is
    symmetric (the standard Newman formulation), giving n_edge_ends =
    2·|E| pairs of (deg(u), deg(v)).

    Plan shape at scale: one groupBy(node) for degrees, two broadcast-or
    -shuffle joins to annotate edge endpoints, then ONE 1-row exact
    aggregate (sums in DECIMAL(38,0)). No iteration, no all-pairs."""
    e0 = canonical_edges(edges, src_col, dst_col)
    und = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    da = deg.select(F.col("node").alias("__u"), F.col("deg").alias("dx"))
    db = deg.select(F.col("node").alias("__v"), F.col("deg").alias("dy"))
    pairs = (
        und.join(da, und.a == F.col("__u"))
        .join(db, und.b == F.col("__v"))
        .select(
            F.col("dx").cast("decimal(38,0)").alias("x"),
            F.col("dy").cast("decimal(38,0)").alias("y"),
        )
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_edge_ends"),
        F.sum(F.col("x") * F.col("y")).alias("__sxy"),
        F.sum("x").alias("__sx"),
        F.sum("y").alias("__sy"),
        F.sum(F.col("x") * F.col("x")).alias("__sxx"),
        F.sum(F.col("y") * F.col("y")).alias("__syy"),
    )
    n = F.col("n_edge_ends").cast("decimal(38,0)")
    return agg.select(
        "n_edge_ends",
        (n * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
        .cast("decimal(38,0)").alias("corr_num"),
        (n * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        .cast("decimal(38,0)").alias("var_a_num"),
        (n * F.col("__syy") - F.col("__sy") * F.col("__sy"))
        .cast("decimal(38,0)").alias("var_b_num"),
    )


def degree_assortativity_oracle_sql(edge_sql: str) -> str:
    """DuckDB replica of :func:`degree_assortativity` (HUGEINT sums).
    ``edge_sql`` yields (src, dst)."""
    return f"""
WITH e0 AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({edge_sql}) WHERE src <> dst
), und AS MATERIALIZED (
    SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0
), deg AS MATERIALIZED (
    SELECT a AS node, CAST(count(*) AS HUGEINT) AS deg FROM und GROUP BY a
), pairs AS (
    SELECT da.deg AS x, db.deg AS y
    FROM und JOIN deg da ON und.a = da.node JOIN deg db ON und.b = db.node
), agg AS (
    SELECT CAST(count(*) AS HUGEINT) AS n,
           sum(x * y) AS sxy, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy
    FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_edge_ends,
       CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS corr_num,
       CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS var_a_num,
       CAST(n * syy - sy * sy AS DECIMAL(38,0)) AS var_b_num
FROM agg
"""


def deterministic_walks(
    edges: DataFrame,
    n_steps: int = 3,
    seed: str = "walk",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Hash-seeded deterministic random walks — the corpus generator for
    DeepWalk/node2vec-style graph embeddings, made engine-portable: from
    every vertex with out-edges, walk ``n_steps`` hops where the step-i
    successor of vertex c is the out-neighbour minimizing the PORTABLE
    priority string md5("seed:i:c:nbr") || ":" || nbr. md5 makes the
    choice uniform-ish and deterministic; the fixed-width hex prefix
    means lexicographic MIN equals hash order, and the appended
    neighbour id breaks (astronomically unlikely) hash ties identically
    in every engine. Dead ends stop the walk (NULL tail).

    Returns (start, step_1 … step_n) — one row per start vertex.

    Plan shape at 100 TB: the step-i successor depends only on (i, c),
    so each step is ONE vertex-sized groupBy over the edge list (the
    per-step transition table, map-side partial min) plus ONE equi-join
    against the frontier — never a per-walk scan, no driver state, no
    iteration over rows. Cost is n_steps × (|E| groupBy + |V| join);
    walks for ALL vertices are produced in the same n_steps jobs, which
    is what makes it viable where a per-walk sampler would not be.
    """
    from pyspark import StorageLevel

    if n_steps < 1:
        raise ValueError(f"n_steps must be >= 1, got {n_steps}")
    src = F.col(src_col)
    dst = F.col(dst_col)
    # the edge list feeds n_steps transition groupBys plus the start set;
    # unpersisted, an expensive upstream (e.g. a co-occurrence self-join)
    # re-executes n_steps+1 times
    e = (
        edges.filter(src.isNotNull() & dst.isNotNull())
        .select(src.alias("__s"), dst.alias("__d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out = e.select(F.col("__s").alias("start")).distinct().withColumn(
        "__cur", F.col("start")
    )
    for i in range(1, n_steps + 1):
        pri = F.concat(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(seed),
                    F.lit(str(i)),
                    F.col("__s").cast("string"),
                    F.col("__d").cast("string"),
                )
            ),
            F.lit(":"),
            F.col("__d").cast("string"),
        )
        trans = e.groupBy(F.col("__s").alias("__from")).agg(
            F.split_part(F.min(pri), F.lit(":"), F.lit(2))
            .cast("long")
            .alias("__next")
        )
        out = (
            out.join(trans, out.__cur == trans.__from, "left")
            .drop("__from")
            .withColumnRenamed("__next", f"step_{i}")
            .withColumn("__cur", F.col(f"step_{i}"))
        )
    return out.drop("__cur")


def deterministic_walks_oracle_sql(
    edge_sql: str, n_steps: int = 3, seed: str = "walk"
) -> str:
    """DuckDB replica of :func:`deterministic_walks` — identical md5
    priority strings, per-step arg-min transition tables, chained LEFT
    JOINs. ``edge_sql`` yields (src, dst)."""
    from aleph2_contrib_spark.operators import sql_str

    seed = sql_str(seed)
    ctes = [
        f"""e AS MATERIALIZED (
    SELECT src AS s, dst AS d FROM ({edge_sql})
    WHERE src IS NOT NULL AND dst IS NOT NULL
)"""
    ]
    for i in range(1, n_steps + 1):
        ctes.append(
            f"""t{i} AS MATERIALIZED (
    SELECT s AS frm,
           CAST(split_part(min(md5('{seed}:{i}:' || CAST(s AS VARCHAR)
                || ':' || CAST(d AS VARCHAR)) || ':' || CAST(d AS VARCHAR)),
                ':', 2) AS BIGINT) AS nxt
    FROM e GROUP BY s
)"""
        )
    joins = ["FROM (SELECT DISTINCT s AS start FROM e) v"]
    prev = "v.start"
    sels = ["v.start"]
    for i in range(1, n_steps + 1):
        joins.append(f"LEFT JOIN t{i} ON {prev} = t{i}.frm")
        sels.append(f"t{i}.nxt AS step_{i}")
        prev = f"t{i}.nxt"
    return (
        "WITH "
        + ", ".join(ctes)
        + "\nSELECT "
        + ", ".join(sels)
        + "\n"
        + "\n".join(joins)
    )


def landmark_closeness(
    edges: DataFrame,
    n_landmarks: int = 8,
    max_hops: int = 3,
    seed: str = "lm",
    src_col: str = "src",
    dst_col: str = "dst",
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """h-hop landmark closeness — the scalable stand-in for exact
    closeness/harmonic centrality (exact requires all-pairs distances):
    pick ``n_landmarks`` probe vertices DETERMINISTICALLY (lowest
    md5("seed:v"), the repo's portable sampling idiom), run a
    multi-source per-landmark BFS over the UNDIRECTED graph to
    ``max_hops``, and emit per vertex the exact integer centrality
    numerators:

      n_reached     landmarks within h hops (a landmark reaches itself
                    at d=0 — reachability is reflexive)
      sum_dist      Σ d over those landmarks (closeness numerator)
      harmonic_num  Σ lcm(1..h)/d over landmarks at d ≥ 1 — the harmonic
                    sum as an EXACT integer (denominator lcm(1..h);
                    caller divides at the boundary)

    Plan shape at 100 TB: state is (landmark, vertex, dist) — at most
    n_landmarks · |V| rows, the explicit cost dial — and each round is
    ONE frontier-driven equi-join on the vertex key plus ONE min-groupBy
    (per-round persist + lineage cut, pagerank's discipline). max_hops
    is a small constant, so total cost is h joins regardless of |V|.
    Landmark selection is a TakeOrdered over vertex ids (driver gets
    n_landmarks rows, never the vertex set).

    Below ``driver_cap_edges`` undirected edges the BFS rounds run on a
    collected CSR adjacency instead (the bfs_levels/diameter_two_sweep
    hybrid): h·n_landmarks numpy frontier sweeps replace 2·h shuffle
    rounds, with identical (lm, v, min-d) state by construction —
    landmark selection stays the distributed TakeOrdered either way.
    Set 0 to force the distributed path.
    """
    import math

    from pyspark import StorageLevel

    if n_landmarks < 1:
        raise ValueError(f"n_landmarks must be >= 1, got {n_landmarks}")
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    # the canonical undirected list is what the cap counts: one row per
    # undirected edge; the join path's symmetric ``und`` is derived lazily
    e = canonical_edges(edges, src_col, dst_col).persist(StorageLevel.MEMORY_AND_DISK)
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    verts = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .distinct()
    )
    lms = (
        verts.orderBy(
            F.md5(F.concat_ws(":", F.lit(seed), F.col("v").cast("string"))).asc(),
            F.col("v").asc(),
        )
        .limit(int(n_landmarks))
        .select(F.col("v").alias("lm"))
    )
    lcm = math.lcm(*range(1, int(max_hops) + 1))
    epdf = collect_under(e, driver_cap_edges)
    if epdf is not None:
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import LongType, StructField, StructType

        lm_vals = lms.toPandas()["lm"]
        e.unpersist()
        nodes_all, Ai, Bi, lm_idx = index_nodes(epdf["a"], epdf["b"], lm_vals)
        nv = len(nodes_all)
        indptr, nbrs = csr(np.concatenate([Ai, Bi]), np.concatenate([Bi, Ai]), nv)
        n_reached = np.zeros(nv, dtype=np.int64)
        sum_dist = np.zeros(nv, dtype=np.int64)
        harmonic = np.zeros(nv, dtype=np.int64)
        for s in lm_idx:
            dist = np.full(nv, -1, dtype=np.int64)
            dist[int(s)] = 0
            frontier = np.array([int(s)], dtype=np.int64)
            for d in range(1, int(max_hops) + 1):
                nxt = np.unique(successors(indptr, nbrs, frontier)[0])
                nxt = nxt[dist[nxt] < 0]
                if nxt.size == 0:
                    break
                dist[nxt] = d
                frontier = nxt
            reached = dist >= 0
            n_reached[reached] += 1
            sum_dist[reached] += dist[reached]
            pos = dist >= 1
            harmonic[pos] += lcm // dist[pos]
        node_type = e.schema["a"].dataType
        out_schema = StructType(
            [
                StructField("v", node_type),
                StructField("n_reached", LongType()),
                StructField("sum_dist", LongType()),
                StructField("harmonic_num", LongType()),
            ]
        )
        hit = n_reached > 0
        return edges.sparkSession.createDataFrame(
            pd.DataFrame(
                {
                    "v": nodes_all[hit],
                    "n_reached": n_reached[hit],
                    "sum_dist": sum_dist[hit],
                    "harmonic_num": harmonic[hit],
                }
            ),
            schema=out_schema,
        )
    state = lms.select(
        F.col("lm"), F.col("lm").alias("v"), F.lit(0).cast("int").alias("d")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    for _ in range(int(max_hops)):
        expand = (
            state.join(und, state.v == und.a)
            .select(F.col("lm"), F.col("b").alias("v"), (F.col("d") + 1).alias("d"))
        )
        new_state = (
            state.unionByName(expand)
            .groupBy("lm", "v")
            .agg(F.min("d").cast("int").alias("d"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        new_state.count()  # materialize, then release the old round
        state.unpersist()
        state = new_state
    # lcm(1..h) is divisible by every d <= h, so lcm/d is an EXACT double
    # — engine cast semantics (Spark truncates, DuckDB rounds) never see
    # a fractional value
    out = state.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum("d").cast("long").alias("sum_dist"),
        F.sum(
            F.when(F.col("d") > 0, F.lit(lcm).cast("long") / F.col("d"))
            .otherwise(F.lit(0))
            .cast("long")
        ).cast("long").alias("harmonic_num"),
    )
    e.unpersist()
    return out


def landmark_closeness_oracle_sql(
    edge_sql: str, n_landmarks: int = 8, max_hops: int = 3, seed: str = "lm"
) -> str:
    """DuckDB replica of :func:`landmark_closeness` — identical md5
    landmark choice and per-round min-dist unrolling. ``edge_sql``
    yields (src, dst)."""
    import math

    from aleph2_contrib_spark.operators import sql_str

    seed = sql_str(seed)
    lcm = math.lcm(*range(1, int(max_hops) + 1))
    ctes = [
        f"""e0 AS MATERIALIZED (
    SELECT DISTINCT src AS a, dst AS b FROM ({edge_sql})
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
), und AS MATERIALIZED (
    SELECT DISTINCT a, b FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0)
), lms AS MATERIALIZED (
    SELECT v AS lm FROM (SELECT DISTINCT a AS v FROM und)
    ORDER BY md5('{seed}:' || CAST(v AS VARCHAR)), v
    LIMIT {int(n_landmarks)}
), t0 AS (SELECT lm, lm AS v, 0 AS d FROM lms)"""
    ]
    prev = "t0"
    for i in range(1, int(max_hops) + 1):
        ctes.append(
            f"""t{i} AS MATERIALIZED (
    SELECT lm, v, min(d) AS d FROM (
        SELECT lm, v, d FROM {prev}
        UNION ALL
        SELECT s.lm, und.b AS v, s.d + 1 AS d FROM {prev} s JOIN und ON s.v = und.a
    ) GROUP BY lm, v
)"""
        )
        prev = f"t{i}"
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
SELECT v, CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum(d) AS BIGINT) AS sum_dist,
       CAST(sum(CASE WHEN d > 0 THEN CAST({lcm} / d AS BIGINT) ELSE 0 END)
            AS BIGINT) AS harmonic_num
FROM {prev} GROUP BY v
"""
    )


def global_graph_stats(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """One-row graph-QA summary — the structural health check run before
    any expensive graph algorithm: exact n_vertices, n_edges (canonical
    undirected), n_wedges (Σ d(d−1)/2), n_triangles (via
    :func:`triangle_count`'s degree-ordered orientation), the global
    clustering coefficient as exact ppm (3·triangles·1e6 div wedges),
    and edge reciprocity over the RAW directed edges (mutual directed
    edges · 1e6 div directed edges — 1e6 for an undirected-in-disguise
    feed, ~0 for a citation-style DAG).

    Plan shape at 100 TB: triangle_count's m^1.5-bounded wedge join is
    the dominant cost; everything else is one degree groupBy, one
    distinct, one canonical-pair groupBy, and 1-row crossJoins of the
    scalar aggregates (tiny-side BNLJ by construction). Wedge counts use
    DECIMAL(38,0) — a 1e9-degree hub squares past the long range.

    The raw ``edges`` expression feeds every scalar, and the caller's
    edge build is typically the expensive part (a fact-table self-join
    or pair explode) — so it is reduced ONCE: one distinct-directed-edge
    pass materializes ``pair_or`` (canonical pair + orientation count),
    and the canonical edge list, degree/wedge scalars, reciprocity, and
    triangle_count (via ``assume_canonical_persisted``) are all served
    from that cache instead of re-deriving the raw subtree per branch
    (the lazy form carried ~106 duplicated Exchanges in one plan).
    """
    from pyspark import StorageLevel

    pair_or = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("t"))
        .filter(F.col("s") != F.col("t"))
        .distinct()
        .groupBy(
            F.least(F.col("s"), F.col("t")).alias("a"),
            F.greatest(F.col("s"), F.col("t")).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orient"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pair_or.count()
    e = pair_or.select("a", "b")
    tri = triangle_count(e, "a", "b", assume_canonical_persisted=True)

    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("CAST((d * (d - 1)) / 2 AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("n_wedges")
    )

    recip = pair_or.agg(
        F.sum(F.when(F.col("n_orient") == 2, F.lit(2)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_mutual"),
        F.sum("n_orient").cast("long").alias("n_directed"),
    )
    return (
        tri.crossJoin(wedges)
        .crossJoin(recip)
        .select(
            "n_vertices",
            "n_edges",
            "n_triangles",
            # exact digit string, not a long cast (which would silently
            # NULL the hub-squared case this QA row exists to expose)
            # and not DECIMAL (banned at the gate boundary — the driver
            # canonicalizer renders wide decimals per-engine; see
            # functions/gate_types.py)
            F.col("n_wedges").cast("string").alias("n_wedges"),
            F.expr(
                "CAST(CASE WHEN n_wedges > 0 THEN "
                "(3 * CAST(n_triangles AS DECIMAL(38,0)) * 1000000) div n_wedges "
                "ELSE NULL END AS BIGINT)"
            ).alias("global_cc_ppm"),
            F.expr(
                "CAST(CASE WHEN n_directed > 0 THEN "
                "(n_mutual * 1000000) div n_directed ELSE NULL END AS BIGINT)"
            ).alias("reciprocity_ppm"),
        )
    )


def global_graph_stats_oracle_sql(edge_sql: str) -> str:
    """DuckDB replica of :func:`global_graph_stats` — direct a<b<c
    triangle join (feasible at gate scale; the operator's oriented
    formulation must reproduce it exactly). ``edge_sql`` yields
    (src, dst)."""
    return f"""
WITH raw AS MATERIALIZED (
    SELECT src, dst FROM ({edge_sql})
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
), e AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM raw
), verts AS (
    SELECT count(*) AS n_vertices FROM
        (SELECT DISTINCT v FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e))
), deg AS (
    SELECT n, CAST(count(*) AS HUGEINT) AS d FROM
        (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY n
), wed AS (
    SELECT sum(d * (d - 1) // 2) AS n_wedges FROM deg
), tri AS (
    SELECT count(*) AS n_triangles
    FROM e ab JOIN e bc ON ab.b = bc.a JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
), dir_e AS (
    SELECT DISTINCT src AS s, dst AS t FROM raw
), rec AS (
    SELECT CAST(sum(CASE WHEN n_orient = 2 THEN 2 ELSE 0 END) AS BIGINT) AS n_mutual,
           CAST(sum(n_orient) AS BIGINT) AS n_directed
    FROM (SELECT least(s, t) AS a, greatest(s, t) AS b, count(*) AS n_orient
          FROM dir_e GROUP BY 1, 2)
)
SELECT CAST(verts.n_vertices AS BIGINT) AS n_vertices,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles,
       CAST(CAST(wed.n_wedges AS HUGEINT) AS VARCHAR) AS n_wedges,
       CAST(CASE WHEN wed.n_wedges > 0
            THEN (3 * CAST(tri.n_triangles AS HUGEINT) * 1000000) // wed.n_wedges
            ELSE NULL END AS BIGINT) AS global_cc_ppm,
       CAST(CASE WHEN rec.n_directed > 0
            THEN (rec.n_mutual * 1000000) // rec.n_directed
            ELSE NULL END AS BIGINT) AS reciprocity_ppm
FROM verts, wed, tri, rec
"""


def _scc_driver_phases(A, B, nv: int, max_phases: int, max_rounds: int):
    """Vectorized FW-BW min-label phases over index-mapped directed edge
    arrays covering ``nv`` active vertices — the SAME phase structure as
    the distributed loop (trim the DAG layers to singleton SCCs,
    forward/backward min-label fixpoints, settle F == B, peel). Each
    fixpoint is unique, so the settled labels are identical to the
    distributed path's whenever both complete; the in-round chained
    propagation of ``np.minimum.at`` only converges FASTER, never to a
    different fixpoint. Returns scc label indices aligned over all nv
    indices (label = index of the SCC's minimum member — index order is
    value order after np.unique)."""
    import numpy as np

    scc = np.full(nv, -1, dtype=np.int64)
    act_A, act_B = A.astype(np.int64), B.astype(np.int64)
    active = np.ones(nv, dtype=bool)

    def fixpoint(Ae, Be):
        lab = np.arange(nv, dtype=np.int64)
        for _ in range(int(max_rounds)):
            before = lab[Ae].copy()
            np.minimum.at(lab, Ae, lab[Be])
            if np.array_equal(before, lab[Ae]):
                return lab
        raise RuntimeError(
            f"SCC min-label fixpoint did not converge in {max_rounds} rounds"
        )

    for _ in range(int(max_phases)):
        if not active.any():
            return scc
        # trim: peel no-in/no-out vertices to singleton SCCs (all layers)
        Ae, Be = act_A, act_B
        while len(Ae):
            keep_nodes = np.intersect1d(np.unique(Ae), np.unique(Be))
            mask = np.isin(Ae, keep_nodes) & np.isin(Be, keep_nodes)
            if mask.all():
                break
            Ae, Be = Ae[mask], Be[mask]
        surv = np.zeros(nv, dtype=bool)
        if len(Ae):
            surv[np.unique(np.concatenate([Ae, Be]))] = True
        singles = active & ~surv
        scc[singles] = np.flatnonzero(singles)
        active = surv
        if not active.any():
            return scc
        fwd = fixpoint(Ae, Be)
        bwd = fixpoint(Be, Ae)
        settled = surv & (fwd == bwd)
        scc[settled] = fwd[settled]
        active = surv & ~settled
        emask = ~settled[Ae] & ~settled[Be]
        act_A, act_B = Ae[emask], Be[emask]
    if active.any():
        raise RuntimeError(
            f"SCC peeling did not finish in {max_phases} phases "
            "(adversarial SCC-chain ordering — raise max_phases)"
        )
    return scc


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_phases: int = 12,
    max_rounds: int = 40,
    driver_trim_max_edges: int = 2_000_000,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph — the cycle
    structure (mutual-reachability classes) that undirected
    connected_components cannot see; condensing a dependency/citation/
    transaction graph to its DAG of SCCs is the standard precursor to
    cycle-aware analytics.

    Algorithm: iterative FW-BW min-label peeling. Per phase, two
    min-label fixpoints on the remaining subgraph — F(v) = min vertex
    reachable FROM v, B(v) = min vertex that REACHES v (the reversed
    fixpoint) — then every vertex with F(v) == B(v) == c is in the SCC
    of c (v→*c and c→*v), gets scc_id = c, and is peeled. Each phase
    settles at least the SCC of the minimum remaining vertex, and
    scc_id is the SCC's minimum member — matching the oracle's
    mutual-transitive-closure definition exactly. Returns
    (vertex, scc_id).

    Plan shape at scale: a fixpoint round is ONE edge equi-join + ONE
    min-groupBy on the vertex key (persisted state, lineage cut per
    round — connected_components' discipline); a phase is two
    fixpoints + one anti-join peel. The honest caveat of every
    FW-BW-family algorithm applies: a CHAIN of k SCCs whose minima are
    adversarially ordered needs up to k phases — ``max_phases`` raises
    rather than silently spinning (raise the cap for condensation-deep
    graphs; Tarjan on a driver is the right tool below ~1e6 edges).

    Hybrid TRIM (the kcore_decomposition / bfs_levels contract): the
    trim drains the DAG mass one topological LAYER per round, and each
    distributed round is a full Spark job — a 68-layer chain measured
    32 s of pure job latency at sf0.1 while the fixpoints took 2 s. So
    when the active subgraph is ≤ ``driver_trim_max_edges`` canonical
    edges (2M ≈ 32 MB of int64 pairs, sized to
    spark.driver.maxResultSize; 0 disables), the peel-to-fixpoint runs
    on the driver over two numpy arrays — the whole layer sequence
    vectorized, sub-second — and only the trimmed singleton set and the
    surviving subgraph are re-uploaded (both bounded by the cap). The
    FW-BW min-label fixpoints — the part whose state is corpus-sized at
    100 TB — ALWAYS run distributed; above the cap the trim also runs
    distributed (one probe-folded job per layer). Identical unique
    fixpoint on either path.
    """
    from pyspark import StorageLevel

    e0 = (
        edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .select(F.col(src_col).alias("s"), F.col(dst_col).alias("t"))
        .filter(F.col("s") != F.col("t"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    epdf = collect_under(e0, driver_trim_max_edges)
    if epdf is not None:
        # Whole-problem driver fast path: under the cap, skip the
        # distributed scaffolding entirely (vertex distinct, eager
        # checkpoints, per-phase probes — ~6 jobs of fixed latency) and
        # solve with the vectorized min-label phases on ONE bounded
        # collect. Identical output: scc_id = min member is a pure
        # function of the graph, and the vertex set of an edge-derived
        # graph is exactly the edge endpoints on both paths.
        import pandas as pd
        from pyspark.sql import types as T

        spark = edges.sparkSession
        node_type = e0.schema["s"].dataType
        nodes_all, Ai, Bi = index_nodes(epdf["s"], epdf["t"])
        labels = _scc_driver_phases(Ai, Bi, len(nodes_all), max_phases, max_rounds)
        e0.unpersist()
        return spark.createDataFrame(
            pd.DataFrame({"vertex": nodes_all, "scc_id": nodes_all[labels]}),
            schema=T.StructType(
                [
                    T.StructField("vertex", node_type),
                    T.StructField("scc_id", node_type),
                ]
            ),
        )
    verts = (
        e0.select(F.col("s").alias("v"))
        .unionByName(e0.select(F.col("t").alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def min_fixpoint(vs, es, forward: bool):
        # L(v) = min id reachable from v along es (forward) or along
        # reversed es (backward = "min id that reaches v").
        # localCheckpoint EVERY round: the label state feeds the next
        # round's join — persist alone keeps the full lineage, whose
        # analysis cost grows per round until it dominates wall-clock
        # (measured 0.6 s -> 8 s by round 5 on an 8-edge graph); the
        # checkpoint keeps plans O(1) per round (pagerank's discipline).
        # The convergence probe is FOLDED into the materializing job: the
        # new state carries a per-vertex chg flag (label strictly
        # decreased), the checkpoint is lazy, and the sum(chg) action
        # both materializes the round's state and returns the probe —
        # ONE Spark job per round instead of the former two (eager
        # checkpoint + a join-based changed count), which halved the
        # sf0.1 gate cost (round-9 brief item 3; the gate was paying
        # per-round job latency, not data volume).
        a, b = ("s", "t") if forward else ("t", "s")
        labels = vs.select("v", F.col("v").alias("lab")).localCheckpoint(eager=True)
        for _ in range(int(max_rounds)):
            cmin = (
                es.join(labels, es[b] == labels.v)
                .select(es[a].alias("v"), F.col("lab"))
                .groupBy("v")
                .agg(F.min("lab").alias("clab"))
            )
            merged = (
                labels.join(cmin, "v", "left")
                .select(
                    "v",
                    F.least(
                        F.col("lab"), F.coalesce("clab", "lab")
                    ).alias("lab"),
                    F.when(
                        F.coalesce("clab", "lab") < F.col("lab"), F.lit(1)
                    ).otherwise(F.lit(0)).alias("chg"),
                )
                .localCheckpoint(eager=False)
            )
            changed = merged.agg(F.sum("chg").alias("c")).first()["c"]
            labels = merged.select("v", "lab")
            if not changed:
                return labels
        raise RuntimeError(
            f"SCC min-label fixpoint did not converge in {max_rounds} rounds"
        )

    result = None
    active_v = verts.localCheckpoint(eager=True)
    active_e = e0.localCheckpoint(eager=True)
    for _ in range(int(max_phases)):
        if active_v.limit(1).count() == 0:
            break
        # TRIM (the standard FW-BW companion): a vertex with no in-edge
        # or no out-edge in the active subgraph is a singleton SCC —
        # iterating this drains the DAG portion in topological layers,
        # leaving only the cyclic cores for the (more expensive)
        # fixpoints; without it a DAG chain of k vertices costs k phases
        epdf = collect_under(active_e, driver_trim_max_edges)
        if epdf is not None:
            # driver path: the trim already pays the bounded collect, and
            # the result (v -> min member of its SCC) is a pure function
            # of the graph — so finish the WHOLE remaining problem on the
            # driver with the same vectorized min-label phases instead of
            # re-uploading the subgraph and paying one Spark job per
            # distributed fixpoint round (measured: the sf0.1 gate's
            # post-trim core spent ~10 job latencies settling a
            # 25-vertex cycle). Above the cap the distributed phases
            # below remain the 100 TB path.
            import pandas as pd
            from pyspark.sql import types as T

            vpdf = active_v.toPandas()
            nodes_all, _, Ai, Bi = index_nodes(vpdf["v"], epdf["s"], epdf["t"])
            labels = _scc_driver_phases(
                Ai, Bi, len(nodes_all), max_phases, max_rounds
            )
            spark = edges.sparkSession
            node_type = active_v.schema["v"].dataType
            settled_all = spark.createDataFrame(
                pd.DataFrame(
                    {"v": nodes_all, "scc_id": nodes_all[labels]}
                ),
                schema=T.StructType(
                    [
                        T.StructField("v", node_type),
                        T.StructField("scc_id", node_type),
                    ]
                ),
            )
            result = (
                settled_all
                if result is None
                else result.unionByName(settled_all)
            )
            break
        else:
            for _ in range(int(max_rounds)):
                has_out = active_e.select(F.col("s").alias("v")).distinct()
                has_in = active_e.select(F.col("t").alias("v")).distinct()
                both = has_out.join(has_in, "v")
                # lazy checkpoint + count in ONE job (same fold as the
                # fixpoint probe): the count both materializes the
                # round's singleton set and answers "anything to trim?"
                single = active_v.join(both, "v", "left_anti").localCheckpoint(
                    eager=False
                )
                if single.count() == 0:
                    break
                settled1 = single.select("v", F.col("v").alias("scc_id"))
                result = (
                    settled1 if result is None else result.unionByName(settled1)
                )
                active_v = active_v.join(single, "v", "left_anti").localCheckpoint(
                    eager=True
                )
                active_e = (
                    active_e.join(
                        single.select(F.col("v").alias("s")), "s", "left_anti"
                    )
                    .join(single.select(F.col("v").alias("t")), "t", "left_anti")
                    .localCheckpoint(eager=True)
                )
        if active_v.limit(1).count() == 0:
            break
        fwd = min_fixpoint(active_v, active_e, forward=True)
        bwd = min_fixpoint(active_v, active_e, forward=False)
        settled = (
            fwd.join(bwd.withColumnRenamed("lab", "blab"), "v")
            .filter(F.col("lab") == F.col("blab"))
            .select("v", F.col("lab").alias("scc_id"))
            .localCheckpoint(eager=True)
        )
        result = settled if result is None else result.unionByName(settled)
        # peel: named-column anti-joins against two renamed copies of the
        # settled set (one shared DF in two join conditions resolves
        # ambiguously and measured 150 s on 8 edges); checkpoint the new
        # state so phases never chain lineage
        active_v = active_v.join(settled.select("v"), "v", "left_anti").localCheckpoint(
            eager=True
        )
        active_e = (
            active_e.join(settled.select(F.col("v").alias("s")), "s", "left_anti")
            .join(settled.select(F.col("v").alias("t")), "t", "left_anti")
            .localCheckpoint(eager=True)
        )
    else:
        if active_v.limit(1).count() > 0:
            raise RuntimeError(
                f"SCC peeling did not finish in {max_phases} phases "
                "(adversarial SCC-chain ordering — raise max_phases)"
            )
    e0.unpersist()
    verts.unpersist()
    if result is None:  # empty graph
        return verts.select(
            F.col("v").alias("vertex"), F.col("v").alias("scc_id")
        ).limit(0)
    return result.select(F.col("v").alias("vertex"), F.col("scc_id"))


def strongly_connected_components_oracle_sql(edge_sql: str) -> str:
    """DuckDB replica of :func:`strongly_connected_components` by
    definition: recursive-CTE transitive closure (UNION dedups, so
    cycles terminate), scc_id = min mutually-reachable vertex.
    Feasible at gate scale only — closure is O(n·reach)."""
    return f"""
WITH RECURSIVE e AS MATERIALIZED (
    SELECT DISTINCT src AS s, dst AS t FROM ({edge_sql})
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
), verts AS (
    SELECT DISTINCT v FROM (SELECT s AS v FROM e UNION ALL SELECT t FROM e)
), reach(a, b) AS (
    SELECT v, v FROM verts
    UNION
    SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.s
)
SELECT m.a AS vertex, CAST(min(m.b) AS BIGINT) AS scc_id
FROM (SELECT r1.a, r1.b FROM reach r1 JOIN reach r2
        ON r1.a = r2.b AND r1.b = r2.a) m
GROUP BY m.a
"""


# σ bound of the driver path of shortest_path_counts: past it an int64
# sum of path counts could wrap.
_SIGMA_MAX = float(2**62)


def shortest_path_counts(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    max_depth: int = 4,
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """Brandes' σ: per node, the min-hop distance from the seed SET and
    the exact number of distinct shortest seed→node paths within
    ``max_depth`` hops — the forward half of betweenness centrality
    (Brandes 2001) and a structural-redundancy signal on its own (how
    many independent shortest routes reach a vertex).

    Returns (node, dist, sigma), both exact integers; seeds have
    dist = 0, sigma = 1. Deterministic: every step is an integer
    min/sum — no tie-breaking, no floats. σ can grow like degreeᵈᵉᵖᵗʰ;
    int64 holds depth·log₂(deg) < 63 — size ``max_depth`` (and the
    graph's hub degree) accordingly, the same contract the f6 operators
    carry for magnitudes. The driver path raises OverflowError once a
    count passes 2^62 instead of letting an int64 sum wrap.

    Plan shape: identical wavefront discipline to :func:`bfs_levels`
    (whose docstring carries the reference-parity note): the edge table
    is key-partitioned and persisted ONCE, each round is one
    frontier⋈edges equi-join plus a sum-groupBy on the destination and
    an anti-join against the reached set, one count action per round.
    Small graphs (≤ ``driver_cap_edges``) solve with an exact
    driver-side BFS — identical integers by construction.
    """
    from pyspark import StorageLevel

    spark = edges.sparkSession
    slim = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
    seed_nodes = seeds.select(F.col(node_col).alias("node")).distinct()

    epdf = collect_under(slim, driver_cap_edges)
    if epdf is not None:
        # Vectorized driver BFS with exact int64 σ accumulation (the
        # row-collect + dict form spent its time pickling Rows across the
        # Python boundary — same Arrow+CSR rework bfs_levels got;
        # np.add.at keeps σ exact where a float-weighted bincount would
        # round past 2^53).
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import IntegerType, LongType, StructField, StructType

        spdf = seed_nodes.toPandas()
        nodes_all, Si, Di, seed_idx = index_nodes(epdf["__s"], epdf["__d"], spdf["node"])
        nv = len(nodes_all)
        indptr, nbrs = csr(Si, Di, nv)
        dist_np = np.full(nv, -1, dtype=np.int64)
        sigma_np = np.zeros(nv, dtype=np.int64)
        dist_np[seed_idx] = 0
        sigma_np[seed_idx] = 1
        frontier = seed_idx
        for depth in range(1, max_depth + 1):
            if len(frontier) == 0:
                break
            targets, lens = successors(indptr, nbrs, frontier)
            wts = np.repeat(sigma_np[frontier], lens)
            unreached = dist_np[targets] < 0
            t2, w2 = targets[unreached], wts[unreached]
            if len(t2) == 0:
                break
            # int64 σ sums wrap silently: bound each level's sums in float
            # first (exact enough this far below 2^63) and refuse to wrap
            if np.bincount(t2, weights=w2.astype(np.float64)).max() > _SIGMA_MAX:
                raise OverflowError(
                    f"shortest_path_counts: a shortest-path count at depth {depth} "
                    f"exceeds 2^62 and would overflow int64 — lower max_depth"
                )
            acc = np.zeros(nv, dtype=np.int64)
            np.add.at(acc, t2, w2)
            newly = np.unique(t2)
            dist_np[newly] = depth
            sigma_np[newly] = acc[newly]
            frontier = newly
        node_type = seed_nodes.schema[0].dataType
        out_schema = StructType(
            [
                StructField("node", node_type),
                StructField("dist", IntegerType()),
                StructField("sigma", LongType()),
            ]
        )
        reached = dist_np >= 0
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "node": nodes_all[reached],
                    "dist": dist_np[reached].astype("int32"),
                    "sigma": sigma_np[reached],
                }
            ),
            schema=out_schema,
        )

    e = slim.repartition("__s").persist(StorageLevel.MEMORY_AND_DISK)
    reached = (
        seed_nodes.withColumn("dist", F.lit(0))
        .withColumn("sigma", F.lit(1).cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    frontier = reached
    for i in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["__s"])
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumn("dist", F.lit(i))
        )
        frontier = (
            nxt.join(reached.select("node"), "node", "left_anti")
            .select("node", "dist", "sigma")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if frontier.count() == 0:
            frontier.unpersist()
            break
        reached = reached.unionByName(frontier).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    e.unpersist()
    return reached.select(
        "node", F.col("dist").cast("int").alias("dist"), F.col("sigma").cast("long").alias("sigma")
    )


def betweenness_sampled(
    edges: DataFrame,
    sources: Sequence,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 4,
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """Sampled betweenness centrality (Brandes 2001's accumulation from
    a pivot subset — the standard estimator when all-sources is
    unaffordable, Bader et al. 2007): run a full forward σ/dist pass and
    a backward dependency accumulation from each of K caller-chosen
    sources, summed per vertex.

    Exactness contract: σ and dist are exact integers; the dependency
    recursion δ(v) = Σ_{w succ} σ(v)/σ(w) · (1 + δ(w)) is rational, so
    each TERM is floored at f6 — δ_f6(v) = Σ (σ(v)·(1e6 + δ_f6(w)))
    div σ(w) — making every intermediate an integer and the result
    engine- and order-deterministic (integer sums commute; floats
    would not). Endpoints are excluded per Brandes. Output:
    (node, betweenness_f6, n_sources). Magnitude bound: σ·(1e6+δ) must
    stay inside int64 — size max_depth/graph so σ ≤ ~1e6 (the same
    overflow contract :func:`shortest_path_counts` documents).

    Plan shape: ALL K sources advance in ONE wavefront loop — rows are
    (source, node) keyed, so the per-round cost is one frontier⋈edges
    join + sum-groupBy + anti-join regardless of K, and the backward
    pass is one level-descending join per depth, again for all sources
    at once. Small graphs take an exact driver BFS with the identical
    integer arithmetic (term-floored f6), so both paths agree bit-
    for-bit. K is the caller's accuracy/cost dial; depth bounds both
    loops.
    """
    from pyspark import StorageLevel

    spark = edges.sparkSession
    slim = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
    F6 = 1_000_000

    epdf = collect_under(slim, driver_cap_edges)
    if epdf is not None:
        from collections import defaultdict

        adj = defaultdict(list)
        for u, v in zip(epdf["__s"].tolist(), epdf["__d"].tolist()):
            adj[u].append(v)
        acc: dict = {}
        for s in sources:
            dist = {s: 0}
            sigma = {s: 1}
            frontier = [s]
            order = [s]
            depth = 0
            while frontier and depth < max_depth:
                depth += 1
                nxt: dict = {}
                for u in frontier:
                    for v in adj.get(u, ()):
                        if v in dist and dist[v] < depth:
                            continue
                        nxt[v] = nxt.get(v, 0) + sigma[u]
                frontier = [v for v in nxt if v not in dist]
                for v in sorted(frontier):
                    dist[v] = depth
                    sigma[v] = nxt[v]
                    order.append(v)
            delta = {v: 0 for v in dist}
            for v in reversed(order):
                for w in adj.get(v, ()):
                    if w in dist and dist[w] == dist[v] + 1:
                        delta[v] += (sigma[v] * (F6 + delta[w])) // sigma[w]
            for v in dist:
                if v != s:
                    acc[v] = acc.get(v, 0) + delta[v]
        from pyspark.sql.types import IntegerType, LongType, StructField, StructType

        node_type = slim.schema[0].dataType
        out_schema = StructType(
            [
                StructField("node", node_type),
                StructField("betweenness_f6", LongType()),
                StructField("n_sources", IntegerType()),
            ]
        )
        return spark.createDataFrame(
            [(n, int(b), len(sources)) for n, b in acc.items()], out_schema
        )

    e = slim.repartition("__s").persist(StorageLevel.MEMORY_AND_DISK)
    seed_rows = spark.createDataFrame(
        [(s,) for s in sources], ["node"]
    ).withColumn("__src", F.col("node"))
    reached = (
        seed_rows.select("__src", "node")
        .withColumn("dist", F.lit(0))
        .withColumn("sigma", F.lit(1).cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    frontier = reached
    for i in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["__s"])
            .groupBy("__src", F.col("__d").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumn("dist", F.lit(i))
        )
        frontier = (
            nxt.join(
                reached.select(
                    F.col("__src").alias("__rs"), F.col("node").alias("__rn")
                ),
                (nxt["__src"] == F.col("__rs")) & (nxt["node"] == F.col("__rn")),
                "left_anti",
            )
            .select("__src", "node", "dist", "sigma")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if frontier.count() == 0:
            frontier.unpersist()
            break
        reached = reached.unionByName(frontier).persist(StorageLevel.MEMORY_AND_DISK)
    # Backward accumulation, all sources at once, deepest level first.
    # A node's delta is DEFINED entirely at its own level (contributions
    # only flow from dist+1), so each level gets its own small delta
    # table computed from the previous one and the final answer is their
    # union — no repeated full-table left joins (the first cut re-joined
    # an ever-growing delta table every round; measured ~18 s of fixed
    # overhead at toy scale from exactly that).
    reached = reached.persist(StorageLevel.MEMORY_AND_DISK)
    level_delta = reached.filter(F.col("dist") == max_depth).select(
        "__src", "node", F.lit(0).cast("long").alias("delta")
    )
    all_deltas = [level_delta]
    for l in range(max_depth - 1, -1, -1):
        lower = reached.filter(F.col("dist") == l).select(
            "__src", F.col("node").alias("v"), F.col("sigma").alias("sig_v")
        )
        upper = (
            reached.filter(F.col("dist") == l + 1)
            .select("__src", F.col("node").alias("w"), F.col("sigma").alias("sig_w"))
            .join(
                level_delta.select("__src", F.col("node").alias("w"), "delta"),
                ["__src", "w"],
            )
        )
        contrib = (
            lower.join(e, lower["v"] == e["__s"])
            .join(
                upper,
                (lower["__src"] == upper["__src"]) & (F.col("__d") == upper["w"]),
            )
            .groupBy(lower["__src"].alias("__src"), F.col("v").alias("node"))
            .agg(
                F.sum(
                    F.expr(f"(sig_v * ({F6} + delta)) div sig_w")
                ).alias("delta")
            )
        )
        # level-l nodes with no successors at l+1 contribute delta 0
        level_delta = (
            lower.select("__src", F.col("v").alias("node"))
            .join(contrib, ["__src", "node"], "left")
            .select(
                "__src", "node", F.coalesce("delta", F.lit(0)).alias("delta")
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        all_deltas.append(level_delta)
    e.unpersist()
    delta = all_deltas[0]
    for d in all_deltas[1:]:
        delta = delta.unionByName(d)
    return (
        delta.filter(F.col("node") != F.col("__src"))
        .groupBy("node")
        .agg(
            F.sum("delta").alias("betweenness_f6"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            "node",
            F.col("betweenness_f6").cast("long").alias("betweenness_f6"),
            F.lit(len(sources)).cast("int").alias("n_sources"),
        )
    )


def rectangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """Exact global 4-cycle (rectangle) count over an undirected graph —
    the quadrilateral complement to :func:`triangle_count`, and the
    motif that dominates bipartite-ish interaction graphs (user-item,
    author-paper) where triangles are structurally rare.

    Algorithm: Chiba–Nishizeki ordered 2-paths (C4 counting from
    "Arboricity and subgraph listing algorithms", SIAM J. Comput. 1985,
    restated for dataflow). Rank vertices by (degree DESC, id ASC); call
    u ≺ v when u ranks earlier (higher degree, ties to smaller id).
    Enumerate 2-paths u→v→w where BOTH v ≻ u and w ≻ u (u is the
    earliest vertex of the path). Each 4-cycle has a unique earliest
    vertex u and a unique opposite corner w, and its two middles are
    exactly the middles of two such 2-paths, so

        C4 = Σ_{(u,w)} C(p_uw, 2),   p_uw = # ordered 2-paths u→·→w.

    The ordering is what bounds the blow-up: expanding only edges (u,v)
    with v LATER (i.e. deg(v) ≤ deg(u)) charges each undirected edge
    O(min(deg(u), deg(v))) work, and Σ_E min-degree ≤ 2·m^1.5 — hubs
    never fan out from their own adjacency, they are only reached as
    later endpoints. A naive wedge join would pay Σ deg² (hub-quadratic).

    Input edges may be directed/duplicated/self-looped; canonicalized
    (distinct unordered pairs, loops dropped) first. Returns one row
    (n_vertices, n_edges, n_paths2, n_rectangles) — all exact integers
    (n_paths2 = the enumerated ordered-2-path total, the cost witness).

    Plan: one distinct (canonicalize), one groupBy (degrees), two slim
    joins to attach ranks, the bounded path join, one (u,w) groupBy,
    one global agg. The symmetric adjacency and degree tables are
    persisted — both feed two plan branches.
    """
    from pyspark import StorageLevel

    e = canonical_edges(edges, src_col, dst_col).persist(StorageLevel.MEMORY_AND_DISK)
    epdf = collect_under(e, driver_cap_edges)
    if epdf is not None:
        # Hybrid fast path (triangle_count discipline): run the SAME
        # Chiba–Nishizeki ordered-2-path enumeration vectorized on the
        # collected canonical edges; the CN bound (Σ_E min-degree ≤
        # 2·m^1.5) sizes the expansion, with a hard budget guard falling
        # back to the distributed joins.
        import numpy as np

        spark = edges.sparkSession
        nodes_all, Ai, Bi = index_nodes(epdf["a"], epdf["b"])
        ne = len(epdf)
        nv = np.int64(len(nodes_all))
        X = np.concatenate([Ai, Bi])
        Y = np.concatenate([Bi, Ai])
        indptr, nbrs = csr(X, Y, int(nv))
        deg_np = np.diff(indptr)
        # order key: u ≺ v ⇔ (deg desc, id asc); "later" = larger key
        key = (nv - deg_np) * nv + np.arange(nv, dtype=np.int64)
        m1 = key[Y] > key[X]  # first hop u→v with v later
        U1, V1 = X[m1], Y[m1]
        # the v→w expansion walks the CSR over sym
        lens = deg_np[V1]
        total = int(lens.sum())
        if total <= 400_000_000:
            ru = np.repeat(U1, lens)
            W = successors(indptr, nbrs, V1)[0]
            keep = (W != ru) & (key[W] > key[ru])
            codes = ru[keep] * nv + W[keep]
            _, cnt = np.unique(codes, return_counts=True)
            n_paths2 = int(cnt.sum())
            n_rect = int((cnt * (cnt - 1) // 2).sum())
            e.unpersist()
            return spark.createDataFrame(
                [(int(nv), int(ne), n_paths2, n_rect)],
                schema="n_vertices long, n_edges long, n_paths2 long, n_rectangles long",
            )
    sym = e.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        e.select(F.col("b").alias("x"), F.col("a").alias("y"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = sym.groupBy(F.col("x").alias("n")).agg(
        F.count(F.lit(1)).alias("d")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # first hop u→v with v ≻ u (v later: smaller degree, ties to larger id)
    e1 = (
        sym.join(deg.select(F.col("n").alias("x"), F.col("d").alias("du")), "x")
        .join(deg.select(F.col("n").alias("y"), F.col("d").alias("dv")), "y")
        .filter(
            (F.col("dv") < F.col("du"))
            | ((F.col("dv") == F.col("du")) & (F.col("y") > F.col("x")))
        )
        .select(F.col("x").alias("u"), F.col("y").alias("v"), "du")
    )
    # second hop v→w over ALL neighbors w of v, kept only when w ≻ u —
    # per-edge work = deg(v) = min-endpoint degree (the CN bound)
    p2 = (
        e1.join(sym.select(F.col("x").alias("v"), F.col("y").alias("w")), "v")
        .join(deg.select(F.col("n").alias("w"), F.col("d").alias("dw")), "w")
        .filter(
            (F.col("w") != F.col("u"))
            & (
                (F.col("dw") < F.col("du"))
                | ((F.col("dw") == F.col("du")) & (F.col("w") > F.col("u")))
            )
        )
        .select("u", "w")
    )
    pc = p2.groupBy("u", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        deg.agg(F.count(F.lit(1)).alias("n_vertices"))
        .join(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .join(
            pc.agg(
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_paths2"),
                F.coalesce(
                    F.sum(F.expr("(c * (c - 1)) div 2")), F.lit(0)
                ).cast("long").alias("n_rectangles"),
            )
        )
        .select("n_vertices", "n_edges", "n_paths2", "n_rectangles")
    )


def rectangle_count_oracle_sql(edge_sql: str) -> str:
    """DuckDB replica of :func:`rectangle_count` — identical ordered
    2-path enumeration over an ``e(s, d)`` CTE supplied by ``edge_sql``
    (same rank: degree DESC, ties to smaller id first)."""
    return f"""
WITH {edge_sql},
adj AS (
    SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
    FROM e WHERE s <> d
), sym AS (
    SELECT a AS x, b AS y FROM adj UNION ALL SELECT b, a FROM adj
), deg AS (
    SELECT x AS n, count(*) AS d FROM sym GROUP BY x
), e1 AS (
    SELECT s1.x AS u, s1.y AS v, du.d AS du
    FROM sym s1
    JOIN deg du ON du.n = s1.x
    JOIN deg dv ON dv.n = s1.y
    WHERE dv.d < du.d OR (dv.d = du.d AND s1.y > s1.x)
), p2 AS (
    SELECT e1.u, s2.y AS w
    FROM e1
    JOIN sym s2 ON s2.x = e1.v
    JOIN deg dw ON dw.n = s2.y
    WHERE s2.y <> e1.u
      AND (dw.d < e1.du OR (dw.d = e1.du AND s2.y > e1.u))
), pc AS (
    SELECT u, w, count(*) AS c FROM p2 GROUP BY u, w
)
SELECT (SELECT count(*) FROM deg) AS n_vertices,
       (SELECT count(*) FROM adj) AS n_edges,
       CAST(coalesce((SELECT sum(c) FROM pc), 0) AS BIGINT) AS n_paths2,
       CAST(coalesce((SELECT sum((c * (c - 1)) // 2) FROM pc), 0) AS BIGINT)
           AS n_rectangles
"""


def diameter_two_sweep(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 8,
    driver_cap_edges: int = 2_000_000,
) -> DataFrame:
    """Double-sweep diameter lower bound (the classic 2-BFS heuristic —
    Magnien/Latapy/Habib 2009, "Fast computation of empirically tight
    bounds for the diameter of massive graphs"): BFS from a fixed start,
    jump to the farthest node found, BFS again — the second
    eccentricity is a lower bound on the true diameter that is exact on
    trees and empirically tight on real graphs, at the cost of TWO BFS
    passes instead of all-pairs.

    Deterministic everywhere a heuristic normally has freedom: the
    first seed is the smallest node id; the farthest node ties break to
    the smallest id; eccentricities are capped at ``max_iters`` on both
    engines (a cap hit means "≥ cap", identically). Edges are followed
    as given — pass a symmetric edge table for undirected semantics.
    Reaches only the seed's component (disconnected graphs have no
    finite diameter; profile components first with
    ``connected_components``).

    Returns ONE row: (seed1, ecc1, seed2, ecc2, diameter_lb) —
    diameter_lb = max(ecc1, ecc2), all exact integers.

    Plan shape: two :func:`bfs_levels` waves (per round: one frontier
    equi-join + one min-groupBy), and the farthest-node pick is a
    1-row TakeOrdered, kept lazy via a 1-row broadcast join — no driver
    collect in the lineage.
    """
    from pyspark import StorageLevel

    # the edge table feeds the seed pick plus both BFS sweeps (each of
    # which probes it more than once) — persist ONCE here or every
    # branch re-runs the caller's edge-building join
    edges = edges.select(F.col(src_col), F.col(dst_col)).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # Driver fast path (the bfs_levels hybrid contract, same 2M-edge
    # cap): both sweeps walk ONE collected CSR instead of paying the
    # per-round join jobs twice plus two separate edge collections —
    # identical seeds, tie-breaks, caps and eccentricities by
    # construction (pinned against the distributed form in
    # tests/test_graph.py's diameter cases).
    epdf = collect_under(edges, driver_cap_edges)
    if epdf is not None:
        import numpy as np

        edges.unpersist()
        spark = edges.sparkSession
        nodes_all, Si, Di = index_nodes(epdf[src_col], epdf[dst_col])
        nv = len(nodes_all)
        indptr, nbrs = csr(Si, Di, nv)

        def _bfs(seed_i: int) -> "np.ndarray":
            level = np.full(nv, -1, dtype=np.int64)
            level[seed_i] = 0
            frontier = np.array([seed_i], dtype=np.int64)
            for i in range(1, max_iters + 1):
                nxt = np.unique(successors(indptr, nbrs, frontier)[0])
                nxt = nxt[level[nxt] < 0]
                if len(nxt) == 0:
                    break
                level[nxt] = i
                frontier = nxt
            return level

        n1 = n2 = None  # an empty graph has no seed: NULL seeds, ecc 0
        ecc1 = ecc2 = 0
        if nv:
            seed1_i = 0  # nodes_all is sorted: index 0 IS the smallest node id
            l1 = _bfs(seed1_i)
            ecc1 = int(l1.max())
            # farthest node, ties to the smallest id: levels ascend over the
            # sorted node axis, so the first argmax is the smallest-id winner
            seed2_i = int(np.argmax(l1))
            l2 = _bfs(seed2_i)
            ecc2 = int(l2[l2 >= 0].max())
            n1 = nodes_all[seed1_i]
            n2 = nodes_all[seed2_i]
            n1 = n1.item() if hasattr(n1, "item") else n1
            n2 = n2.item() if hasattr(n2, "item") else n2
        return spark.createDataFrame(
            [(n1, ecc1, n2, ecc2, max(ecc1, ecc2))],
            schema="seed1 {t}, ecc1 int, seed2 {t}, ecc2 int, diameter_lb int".format(
                t=edges.schema[src_col].dataType.simpleString()
            ),
        )

    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
    )
    seed1 = nodes.agg(F.min("node").alias("node"))
    # l1 feeds three branches (farthest pick, ecc1, the pick again in
    # the output row) — persist so the first BFS runs once
    l1 = bfs_levels(edges, seed1, src_col, dst_col, max_iters=max_iters).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    seed2 = l1.orderBy(F.col("level").desc(), F.col("node").asc()).limit(1)
    l2 = bfs_levels(
        edges,
        seed2.select("node"),
        src_col,
        dst_col,
        max_iters=max_iters,
    )
    return (
        seed1.select(F.col("node").alias("seed1"))
        .join(l1.agg(F.max("level").cast("int").alias("ecc1")))
        .join(seed2.select(F.col("node").alias("seed2")))
        .join(l2.agg(F.max("level").cast("int").alias("ecc2")))
        .select(
            "seed1",
            "ecc1",
            "seed2",
            "ecc2",
            F.greatest("ecc1", "ecc2").cast("int").alias("diameter_lb"),
        )
    )


def diameter_two_sweep_oracle_sql(edge_sql: str, max_iters: int = 8) -> str:
    """DuckDB replica of :func:`diameter_two_sweep` over an ``e(s, d)``
    CTE from ``edge_sql`` — recursive-CTE BFS waves with UNION dedup
    (bounded by nodes × levels), identical seed and tie rules."""
    return f"""
WITH RECURSIVE {edge_sql},
nodes AS (
    SELECT s AS n FROM e UNION SELECT d FROM e
), seed1 AS (
    SELECT min(n) AS n FROM nodes
), w1(node, lvl) AS (
    SELECT n, 0 FROM seed1
    UNION
    SELECT e.d, w1.lvl + 1 FROM w1 JOIN e ON e.s = w1.node
    WHERE w1.lvl < {int(max_iters)}
), l1 AS (
    SELECT node, min(lvl) AS lvl FROM w1 GROUP BY node
), s2 AS (
    SELECT node FROM l1 ORDER BY lvl DESC, node ASC LIMIT 1
), w2(node, lvl) AS (
    SELECT node, 0 FROM s2
    UNION
    SELECT e.d, w2.lvl + 1 FROM w2 JOIN e ON e.s = w2.node
    WHERE w2.lvl < {int(max_iters)}
), l2 AS (
    SELECT node, min(lvl) AS lvl FROM w2 GROUP BY node
)
SELECT (SELECT n FROM seed1) AS seed1,
       CAST((SELECT max(lvl) FROM l1) AS INT) AS ecc1,
       (SELECT node FROM s2) AS seed2,
       CAST((SELECT max(lvl) FROM l2) AS INT) AS ecc2,
       CAST(greatest((SELECT max(lvl) FROM l1),
                     (SELECT max(lvl) FROM l2)) AS INT) AS diameter_lb
"""
