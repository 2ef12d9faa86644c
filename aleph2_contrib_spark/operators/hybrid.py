"""The driver-path seam shared by the hybrid operators.

A hybrid operator (``graph``'s traversals and peels,
``dedup.connected_components``, ``itemsets.frequent_itemsets``) solves
its input exactly on the driver, in numpy, when the input fits under a
per-call cap, and runs its distributed plan otherwise. One rule decides
which path runs, for every hybrid: :func:`collect_under` pulls at most
``cap + 1`` rows in one bounded Arrow collect, and the driver path runs
exactly when that collect came back with ``cap`` rows or fewer. A cap of
``0`` forces the distributed path without running a job.

Where an operator's distributed path reads its input more than once, the
operator persists the input before calling :func:`collect_under`, so the
bounded collect is also the materializing action the distributed path
would have paid for, and it releases the input again before returning
from its driver path.

The remaining helpers are the numpy scaffolding the driver paths share:
:func:`canonical_edges` (the undirected edge list both paths start
from), :func:`index_nodes` (ids to contiguous int64 indices),
:func:`csr` and :func:`successors` (adjacency and the frontier gather),
and :func:`bfs`, the one level-synchronous BFS every BFS-shaped driver
path runs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_edges(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Undirected canonical edge list ``(a, b)``: unordered distinct
    pairs with ``a < b``, self-loops dropped. Lazy. An edge with a null
    endpoint is dropped too (``least``/``greatest`` skip nulls, so it
    reads as a loop)."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def collect_under(df: DataFrame, cap: int):
    """``df`` as a pandas frame when it holds at most ``cap`` rows, else
    ``None``. One Arrow collect of at most ``cap + 1`` rows answers both
    the size probe and the fetch; ``cap <= 0`` returns ``None`` without
    running a job."""
    cap = int(cap or 0)
    if cap <= 0:
        return None
    pdf = df.limit(cap + 1).toPandas()
    return pdf if len(pdf) <= cap else None


def index_nodes(*id_arrays):
    """Relabel ids to contiguous int64 indices over their sorted distinct
    values: returns ``(nodes, idx_1, ..., idx_k)`` with
    ``nodes[idx_i] == id_arrays[i]``. Index order is value order, so a
    tie-break on indices is the same tie-break on ids. One sort of the
    concatenation: it timed faster than a hash-unique per array plus
    ``searchsorted`` for both long and string ids, at 20k and 2M edges."""
    arrays = [np.asarray(a) for a in id_arrays]
    # an empty array (say, no seeds) must not widen the id dtype
    nodes, inv = np.unique(
        np.concatenate([a for a in arrays if len(a)] or arrays[:1]), return_inverse=True
    )
    inv = inv.reshape(-1).astype(np.int64, copy=False)
    return (nodes, *np.split(inv, np.cumsum([len(a) for a in arrays])[:-1]))


def csr(src, dst, n: int):
    """Compressed adjacency of the directed edges ``src[i] → dst[i]``
    over indices ``[0, n)``: returns ``(indptr, nbrs)``, where
    ``nbrs[indptr[v]:indptr[v + 1]]`` are the successors of ``v`` in
    ascending order. One argsort of the int64 code ``src·n + dst`` (n
    stays far below 3·10⁹ under any driver cap): it timed 2.4× faster
    than a stable argsort by source alone and 7× faster than a lexsort
    at 4M entries."""
    dst = np.asarray(dst, dtype=np.int64)
    order = np.argsort(np.asarray(src, dtype=np.int64) * n + dst)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(src, minlength=n), out=indptr[1:])
    return indptr, dst[order]


def run_offsets(lens):
    """``0, 1, …, lens[i] - 1`` for each run ``i``, concatenated — the
    position of every element inside its run, without a Python loop."""
    return np.arange(int(lens.sum()), dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)


def successors(indptr, nbrs, frontier):
    """Every successor of every node in ``frontier``, concatenated in
    frontier order, and the per-node counts ``lens`` (so
    ``np.repeat(x[frontier], lens)`` aligns a per-node value with its
    successors)."""
    starts = indptr[frontier]
    lens = indptr[frontier + 1] - starts
    return nbrs[np.repeat(starts, lens) + run_offsets(lens)], lens


# largest shortest-path count (σ) a BFS accepts: int64 sums refuse to
# come near 2^63 rather than wrap
SIGMA_MAX = float(2**62)


def bfs(indptr, nbrs, seeds, max_depth: int, count_paths: bool = False):
    """Level-synchronous BFS over the CSR ``(indptr, nbrs)`` from the
    index array ``seeds`` to at most ``max_depth`` hops. Returns
    ``(dist, sigma)``: ``dist[v]`` is v's hop distance (-1 unreached)
    and, when ``count_paths`` is set, ``sigma[v]`` the exact number of
    shortest seed→v paths (a multi-edge counts once per copy; seeds
    have σ 1), else ``sigma`` is ``None``. σ accumulates in int64 and
    raises ``OverflowError`` once a count passes 2^62 instead of
    wrapping."""
    n = len(indptr) - 1
    dist = np.full(n, -1, dtype=np.int64)
    dist[seeds] = 0
    sigma = None
    if count_paths:
        sigma = np.zeros(n, dtype=np.int64)
        sigma[seeds] = 1
    frontier = np.unique(seeds)
    for depth in range(1, int(max_depth) + 1):
        targets, lens = successors(indptr, nbrs, frontier)
        new = dist[targets] < 0
        targets = targets[new]
        if len(targets) == 0:
            break
        if count_paths:
            paths = np.repeat(sigma[frontier], lens)[new]
            # bound the level's sums in float first (exact enough this
            # far below 2^63), then add exactly
            if np.bincount(targets, weights=paths.astype(np.float64)).max() > SIGMA_MAX:
                raise OverflowError(
                    f"bfs: a shortest-path count at depth {depth} exceeds 2^62 "
                    "and would overflow int64; lower max_depth"
                )
            np.add.at(sigma, targets, paths)
        frontier = np.unique(targets)
        dist[frontier] = depth
    return dist, sigma
