"""Reference computations the benchmark checks the engine against.

Nothing here imports Spark or the engine: each function recomputes a
result from the generated inputs alone (Python, numpy, pandas, networkx),
following the documented contract of the operator it checks. Each one has
a hand-worked test in ``test_reference.py``.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# bucket_crud: a pandas model of the bucket, updated by every write
# ---------------------------------------------------------------------------

CRUD_COLUMNS = ["_id", "day", "seq", "value", "cnt"]


class CrudModel:
    """In-memory copy of the table the CRUD workload writes: one row per
    ``_id``; columns ``day`` (partition), ``seq`` (zone-mapped), ``value``
    and ``cnt`` (the counter updates increment)."""

    def __init__(self, rows: pd.DataFrame):
        self.df = rows[CRUD_COLUMNS].set_index("_id", drop=False)

    def append(self, rows: pd.DataFrame) -> None:
        new = rows[CRUD_COLUMNS].set_index("_id", drop=False)
        if new.index.intersection(self.df.index).size:
            raise ValueError("append would duplicate an _id")
        self.df = pd.concat([self.df, new])

    def lookup(self, oid: str) -> dict | None:
        if oid not in self.df.index:
            return None
        r = self.df.loc[oid]
        return {c: (str(r[c]) if c == "_id" else int(r[c])) for c in CRUD_COLUMNS}

    def _range_mask(self, day: int, col: str, lo: int, hi: int) -> np.ndarray:
        d = self.df
        return ((d["day"] == day) & (d[col] >= lo) & (d[col] <= hi)).to_numpy()

    def query(self, day: int, lo: int, hi: int) -> list[tuple]:
        """Rows with ``day`` == day and lo <= value <= hi, as sorted tuples."""
        hit = self.df[self._range_mask(day, "value", lo, hi)]
        return sorted(rows_as_tuples(hit))

    def increment(self, day: int, seq_lo: int, seq_hi: int, delta: int = 1) -> int:
        """``cnt += delta`` on day == day and seq_lo <= seq <= seq_hi;
        returns the number of rows matched."""
        mask = self._range_mask(day, "seq", seq_lo, seq_hi)
        self.df.loc[mask, "cnt"] += delta
        return int(mask.sum())

    def count(self) -> int:
        return len(self.df)

    def sums(self) -> dict[str, int]:
        return {c: int(self.df[c].sum()) for c in ("day", "seq", "value", "cnt")}


def rows_as_tuples(df: pd.DataFrame) -> list[tuple]:
    return [
        (str(r[0]), int(r[1]), int(r[2]), int(r[3]), int(r[4]))
        for r in df[CRUD_COLUMNS].itertuples(index=False, name=None)
    ]


# ---------------------------------------------------------------------------
# stream_enrich
# ---------------------------------------------------------------------------


def enrich_score(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The enrichment column the benchmark's module adds."""
    return (np.asarray(a, dtype=np.int64) * 7 + np.asarray(b, dtype=np.int64) * 13) % 1000


def last_batch_wins(batches: list[pd.DataFrame]) -> dict[int, tuple[int, int, int]]:
    """Expected keyed table after merging each batch's per-key aggregate
    (n, score_sum, max id) in batch order: a key's row is the aggregate
    of the LAST batch that contained the key."""
    out: dict[int, tuple[int, int, int]] = {}
    for b in batches:
        score = enrich_score(b["a"].to_numpy(), b["b"].to_numpy())
        g = (
            pd.DataFrame({"key": b["key"].to_numpy(), "score": score, "id": b["id"].to_numpy()})
            .groupby("key")
            .agg(n=("score", "size"), score_sum=("score", "sum"), last_id=("id", "max"))
        )
        for k, n, s, i in g.itertuples(name=None):
            out[int(k)] = (int(n), int(s), int(i))
    return out


# ---------------------------------------------------------------------------
# corpus_graph: dedup
# ---------------------------------------------------------------------------


def token_shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    """Word n-grams of the normalized text (lowercase, whitespace runs
    collapsed, trimmed); a document shorter than n tokens is one shingle."""
    toks = " ".join(text.lower().split()).split(" ")
    return {tuple(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}


def jaccard(a: set, b: set) -> float:
    """Exact Jaccard as a double, the same division the engine compares."""
    union = len(a | b)
    return 1.0 if union == 0 else len(a & b) / union


def dedup_survivors(ids, pairs) -> dict:
    """Cluster dedup: connected components of the pair graph; each
    component keeps its minimum id, annotated with the component size;
    ids in no pair survive with size 1. Returns {survivor id: size}."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    size = Counter(find(i) for i in ids)
    return {root: n for root, n in size.items()}


# ---------------------------------------------------------------------------
# corpus_graph: graph analytics
# ---------------------------------------------------------------------------


def pagerank_exact(
    src, dst, iterations: int = 5, damping_permille: int = 850, scale: int = 1_000_000
) -> dict[int, int]:
    """The documented fixed-point rule of ``operators.graph.pagerank``:
    every node starts at ``scale``; one step is
    rank'(v) = floor((1000-d)*scale/1000) + floor(d * sum_{u->v} floor(rank(u)/outdeg(u)) / 1000)
    over the edge list AS GIVEN (duplicates and self-loops count), in
    int64. Dangling mass is dropped."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src) :]
    outdeg = np.bincount(s, minlength=len(nodes)).astype(np.int64)
    base = (1000 - damping_permille) * scale // 1000
    rank = np.full(len(nodes), scale, dtype=np.int64)
    for _ in range(iterations):
        contrib = rank[s] // outdeg[s]
        csum = np.zeros(len(nodes), dtype=np.int64)
        np.add.at(csum, d, contrib)
        rank = base + (damping_permille * csum) // 1000
    return dict(zip(nodes.tolist(), rank.tolist()))


def _simple_graph(src, dst):
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from((int(a), int(b)) for a, b in zip(src, dst) if a != b)
    return g


def triangles_nx(src, dst) -> tuple[int, int, int]:
    """(vertices, edges, triangles) of the undirected simple graph."""
    import networkx as nx

    g = _simple_graph(src, dst)
    return g.number_of_nodes(), g.number_of_edges(), sum(nx.triangles(g).values()) // 3


def kcore_nx(src, dst, k: int = 2) -> set[tuple[int, int]]:
    """Canonical (a < b) edges of the k-core of the undirected simple graph."""
    import networkx as nx

    core = nx.k_core(_simple_graph(src, dst), k)
    return {(min(a, b), max(a, b)) for a, b in core.edges()}


def lpa_sync(src, dst, rounds: int = 3) -> dict[int, int]:
    """Synchronous label propagation on the undirected simple graph: all
    nodes start with their own id; each round every node takes the most
    frequent label among its neighbours, ties to the smallest label."""
    nbrs: dict[int, set[int]] = defaultdict(set)
    for a, b in zip(src, dst):
        a, b = int(a), int(b)
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    label = {v: v for v in nbrs}
    for _ in range(rounds):
        new = {}
        for v, ns in nbrs.items():
            c = Counter(label[u] for u in ns)
            top = max(c.values())
            new[v] = min(lab for lab, n in c.items() if n == top)
        label = new
    return label
