"""corpus_graph: near-duplicate removal over a generated corpus with
planted near-duplicate families (``minhash_dedup_cc``, token shingles),
then four analytics over a generated skewed graph (``pagerank``,
``triangle_count``, ``kcore_decomposition``, ``lpa_communities``).

Sizes: the corpus's shingle volume exceeds the 2M driver cap of the LSH
band join, so dedup takes its distributed path; the graph stays under the
graph operators' 2M-edge caps, so triangles, k-core and LPA take their
driver paths, and pagerank (no driver path) stays distributed. Both are
left to the operators' own probes.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd

from aleph2_contrib_spark.operators.dedup import minhash_dedup_cc, minhash_lsh_pairs
from aleph2_contrib_spark.operators.graph import (
    kcore_decomposition,
    lpa_communities,
    pagerank,
    triangle_count,
)
from perfbench import reference as R
from perfbench.harness import Workload, median

VOCAB = 20_000
BASE_DOCS = 7_300
FAMILY_SHARE = 0.2  # share of base docs that get 1-3 near-duplicate variants
DOC_TOKENS = (180, 240)
# token substitutions per variant: Jaccard to its base ~0.97 down to ~0.55
SUBSTITUTIONS = (1, 2, 3, 5, 8, 12, 20)
THRESHOLD = 0.7  # minhash_dedup_cc's default
RECALL_FLOOR = 0.9  # planted pairs at or above this Jaccard must be found
DRIVER_CAP_SHINGLES = 2_000_000  # the LSH band join's driver cap
NODES, EDGES = 6_000, 20_000
# one round: the short driver-path operators three times each, so their
# per-run medians rest on three samples
OPS = ("dedup", "pagerank") + ("triangles", "kcore", "lpa") * 3
GRAPH_OPS = {
    "pagerank": pagerank,
    "triangles": triangle_count,
    "kcore": kcore_decomposition,
    "lpa": lpa_communities,
}


def _dedup(df):
    return minhash_dedup_cc(df, "doc_id", "text", shingle_mode="token")


class CorpusGraph(Workload):
    name = "corpus_graph"

    def setup(self) -> None:
        rng = np.random.default_rng(self.seed)
        with self.phase("corpus"):
            self._make_corpus(rng)
        with self.phase("graph"):
            self._make_graph(rng)
        self.results: dict[str, object] = {}
        self.errors: list[str] = []
        # warm-up, untimed: the distributed LSH band join on the full corpus
        # (its pairs feed the checks) and, on a second thread, every graph
        # operator once; overlapped, the two take ~26 s here, in sequence ~40 s
        with self.phase("warmup"):
            failed: list[BaseException] = []

            def warm_graph():
                try:
                    for kind in GRAPH_OPS:
                        self._keep(kind, self._graph_result(kind))
                except BaseException as e:  # noqa: BLE001 - re-raised below
                    failed.append(e)

            graph = threading.Thread(target=warm_graph)
            graph.start()
            try:
                self.pairs = [
                    (int(a), int(b), float(j))
                    for a, b, j in minhash_lsh_pairs(
                        self.corpus, "doc_id", "text", shingle_mode="token"
                    ).collect()
                ]
            finally:
                graph.join()
            if failed:
                raise failed[0]

    def _make_corpus(self, rng) -> None:
        cdf = np.cumsum(1.0 / (np.arange(VOCAB) + 10.0))  # Zipf-like word frequencies
        lengths = rng.integers(*DOC_TOKENS, size=BASE_DOCS)
        tokens = np.searchsorted(cdf, rng.random(lengths.sum()) * cdf[-1])
        docs: list[np.ndarray] = []
        families: list[list[int]] = []
        for base in np.split(tokens, np.cumsum(lengths)[:-1]):
            fam = [len(docs)]
            docs.append(base)
            if rng.random() < FAMILY_SHARE:
                for _ in range(rng.integers(1, 4)):
                    var = base.copy()
                    s = rng.choice(SUBSTITUTIONS)
                    var[rng.choice(len(var), size=s, replace=False)] = rng.integers(0, VOCAB, s)
                    fam.append(len(docs))
                    docs.append(var)
            families.append(fam)
        # distinct token 3-grams per doc, as int codes: the LSH's shingle volume
        doc_of = np.repeat(np.arange(len(docs)), [len(d) - 2 for d in docs])
        codes = np.concatenate(
            [(d[:-2] * VOCAB + d[1:-1]) * VOCAB + d[2:] for d in docs]
        )
        volume = len(np.unique(doc_of * VOCAB**3 + codes))
        if volume <= DRIVER_CAP_SHINGLES:
            raise RuntimeError(f"corpus shingle volume {volume} is under the driver cap")
        ids = rng.permutation(len(docs)).astype(np.int64)
        words = np.array([f"w{i}" for i in range(VOCAB)])
        texts = [" ".join(words[d]) for d in docs]
        self.doc_ids = ids.tolist()
        self.texts = dict(zip(self.doc_ids, texts))
        self._shingles: dict[int, set] = {}
        self.planted = {
            (min(int(ids[a]), int(ids[b])), max(int(ids[a]), int(ids[b])))
            for fam in families
            for x, a in enumerate(fam)
            for b in fam[x + 1 :]
            if self.jaccard(int(ids[a]), int(ids[b])) >= RECALL_FLOOR
        }
        self.corpus = self.spark.createDataFrame(pd.DataFrame({"doc_id": ids, "text": texts}))

    def jaccard(self, a: int, b: int) -> float:
        """Exact token-shingle Jaccard of two documents, from their text."""
        for i in (a, b):
            if i not in self._shingles:
                self._shingles[i] = R.token_shingles(self.texts[i])
        return R.jaccard(self._shingles[a], self._shingles[b])

    def _make_graph(self, rng) -> None:
        hub_p = 1.0 / (np.arange(NODES) + 1.0) ** 0.8
        hub_p /= hub_p.sum()
        label = rng.permutation(NODES).astype(np.int64)
        self.src = label[rng.choice(NODES, size=EDGES, p=hub_p)]
        self.dst = label[rng.integers(0, NODES, EDGES)]
        self.edges = self.spark.createDataFrame(pd.DataFrame({"src": self.src, "dst": self.dst}))

    # -- operations --------------------------------------------------------
    def _collect(self, kind: str, build) -> list:
        def run():
            with self.tr.span(f"{kind}.plan"):
                df = build()
            with self.tr.span(f"{kind}.exec"):
                return df.collect()

        return self.op(kind, run)

    def _graph_result(self, kind: str, run=None):
        """Call one graph operator and collect its result in a comparable
        form; ``run`` times the call as a counted operation."""
        rows = (run or (lambda k, f: f().collect()))(kind, lambda: GRAPH_OPS[kind](self.edges))
        if rows is None:
            return None
        if kind == "pagerank":
            return {int(r["node"]): int(r["rank_f6"]) for r in rows}
        if kind == "triangles":
            return tuple(int(x) for x in rows[0])
        if kind == "kcore":
            return {(int(r["a"]), int(r["b"])) for r in rows}
        return {int(r["node"]): int(r["community"]) for r in rows}

    def _keep(self, kind: str, got) -> None:
        """The first result is checked after the window; later ones must
        equal it (every operator here is deterministic)."""
        first = self.results.setdefault(kind, got)
        if got != first:
            self.errors.append(f"{kind}: result changed between calls")

    def round(self) -> None:
        for kind in OPS:
            if kind == "dedup":
                rows = self._collect("dedup", lambda: _dedup(self.corpus))
                if rows is not None:
                    self._keep("dedup", {int(r["doc_id"]): int(r["dup_group_size"]) for r in rows})
            else:
                got = self._graph_result(kind, self._collect)
                if got is not None:
                    self._keep(kind, got)

    # -- results -----------------------------------------------------------
    def check(self) -> list[str]:
        errors = list(self.errors)
        for a, b, j in self.pairs:
            exact = self.jaccard(a, b)
            if exact < THRESHOLD or abs(exact - j) > 1e-12:
                errors.append(f"dedup pair ({a}, {b}): reported {j}, exact Jaccard {exact}")
                break
        found = {(a, b) for a, b, _ in self.pairs}
        missed = self.planted - found
        if missed:
            errors.append(f"dedup missed {len(missed)} of {len(self.planted)} planted pairs >= {RECALL_FLOOR}")
        survivors = self.results["dedup"]
        if sum(survivors.values()) != len(self.doc_ids):
            errors.append(f"dedup group sizes sum to {sum(survivors.values())}, corpus {len(self.doc_ids)}")
        if survivors != R.dedup_survivors(self.doc_ids, found):
            errors.append("dedup survivors differ from the clusters of the reported pairs")
        expect = {
            "pagerank": R.pagerank_exact(self.src, self.dst),
            "triangles": R.triangles_nx(self.src, self.dst),
            "kcore": R.kcore_nx(self.src, self.dst),
            "lpa": R.lpa_sync(self.src, self.dst),
        }
        for kind, want in expect.items():
            if self.results[kind] != want:
                errors.append(f"{kind} differs from its reference")
        return errors

    def e2e_detail(self) -> dict:
        return {
            "dedup_s": (self.p50_ms("dedup") / 1000, "s"),
            "pagerank_s": (self.p50_ms("pagerank") / 1000, "s"),
            "triangles_s": (self.p50_ms("triangles") / 1000, "s"),
            "kcore_s": (self.p50_ms("kcore") / 1000, "s"),
            "lpa_s": (self.p50_ms("lpa") / 1000, "s"),
        }

    def layer_detail(self, events: dict) -> dict:
        out = {"dedup.pairs_found": (len(self.pairs), "count")}
        for kind in ("dedup", *GRAPH_OPS):
            out[f"{kind}.plan_ms"] = (median(self.span_ms(f"{kind}.plan")), "ms")
            out[f"{kind}.exec_ms"] = (median(self.span_ms(f"{kind}.exec")), "ms")
            out[f"{kind}.jobs"] = (self.jobs_per(events, kind), "count")
        return out
