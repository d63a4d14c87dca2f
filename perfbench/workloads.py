"""The workloads: seeded inputs, the operator chain of one pass,
the references computed at set-up, and the output checks.

A pass is one full user job of the workload's chain, called one
operator after another from a single driver thread.  Every public call
runs inside a span (see tracing.Pass).  ``run_pass`` collects the
outputs a user would read into ``out``; ``check`` compares them with the
set-up references and with the first pass, outside the timed window;
``release`` drops what the pass cached.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

from perfbench import inputs

MICRO_COLS = ["triangle", "clique4", "cycle4", "tailed_tri4"]


class Workload:
    name = ""
    spans: tuple[str, ...] = ()

    def __init__(self, seed: int, size: str, work: str):
        self.seed = seed
        self.work = work
        self.p = self.SIZES[size]
        self.counts: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, self.name, *parts)

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, p, out: dict) -> None:
        raise NotImplementedError

    def check(self, out: dict, first: dict | None) -> dict[str, str]:
        """{span: reason} for every call whose output is wrong."""
        raise NotImplementedError

    def release(self, out: dict) -> None:
        from pgd_spark.operators.graphlets import release_internal_caches

        for df in out.get("frames", []):
            release_internal_caches(df)
            df.unpersist()
        for g in out.get("graphs", []):
            g.unpersist()


def _graph_counts(src: np.ndarray, dst: np.ndarray) -> dict[str, float]:
    deg = np.bincount(np.concatenate([src, dst]))
    deg = deg[deg > 0]
    return {
        "graph.edges": len(src),
        "graph.vertices": len(deg),
        "graph.max_degree": int(deg.max()) if len(deg) else 0,
        "graph.wedges": int((deg * (deg - 1) // 2).sum()),
    }


def _components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Min-id component label of every vertex id < n (label propagation)."""
    label = np.arange(n)
    while True:
        new = label.copy()
        np.minimum.at(new, src, label[dst])
        np.minimum.at(new, dst, label[src])
        new = new[new]
        if np.array_equal(new, label):
            return label
        label = new


def _differs(name: str, got, want) -> str | None:
    return None if got == want else f"{name}: got {got}, want {want}"


def _macro_problem(totals: dict, tri_sum: int, wedges: int) -> str | None:
    """The census's ten identities, its triangles against an independent
    count and its wedges against the degree sequence."""
    from pgd_spark.operators.graphlets import check_identities

    failed = sorted(k for k, ok in check_identities(totals).items() if not ok)
    if failed:
        return f"identities failed: {failed}"
    return _differs("3 x triangles", 3 * totals["total_3_tris"], tri_sum) or _differs(
        "wedges", totals["total_wedges"], wedges
    )


# ------------------------------------------------------------ census_dense
class CensusDense(Workload):
    """The paper's census on a dense co-purchase graph, then its
    connected components."""

    name = "census_dense"
    spans = (
        "sources.copurchase_edges",
        "graphlets.edge_counts",
        "graphlets.micro",
        "graphlets.macro",
        "pregel.cc",
    )
    SIZES = {
        "full": {"orders": 6_000, "parts": 1_000},
        "tiny": {"orders": 1_500, "parts": 300},
    }

    def setup(self, spark) -> None:
        os.makedirs(self.path(), exist_ok=True)
        li = inputs.lineitem(self.seed, self.p["orders"], self.p["parts"])
        self.lineitem = self.path("lineitem.parquet")
        inputs.write_parquet(li, self.lineitem)
        full = inputs.copurchase_pairs(li)
        self.counts = _graph_counts(full[:, 0], full[:, 1])
        self.m = len(full)
        self.tri_sum = inputs.triangle_sum(full)
        verts = np.unique(full)
        s, d = np.searchsorted(verts, full[:, 0]), np.searchsorted(verts, full[:, 1])
        self.components = pd.Series(verts[_components(s, d, len(verts))], index=verts)

    def run_pass(self, spark, p, out: dict) -> None:
        from pyspark.sql import functions as F

        from pgd_spark.graph import Graph
        from pgd_spark.operators.graphlets import edge_graphlet_counts, macro_counts, micro_counts
        from pgd_spark.operators.pregel import IterationLog, connected_components
        from pgd_spark.sources.relational import copurchase_edges

        sums = [F.sum(c).alias(c) for c in MICRO_COLS]
        frames = out.setdefault("frames", [])
        li = spark.read.parquet(self.lineitem)
        with p.span("sources.copurchase_edges"):
            edges = copurchase_edges(li).persist()
            frames.append(edges)
            out["m"] = edges.count()
        g = Graph(edges, already_canonical=True)
        out["graphs"] = [g]
        with p.span("graphlets.edge_counts"):
            counts = edge_graphlet_counts(g, strategy="broadcast").persist()
            frames.append(counts)
            out["edges_counted"] = counts.count()
        with p.span("graphlets.micro"):
            out["micro"] = micro_counts(g, pgd_quirk=True, counts=counts).agg(*sums).first().asDict()
        with p.span("graphlets.macro"):
            out["totals"] = macro_counts(g, counts=counts)
        with p.span("pregel.cc"):
            log = IterationLog()
            out["cc"] = connected_components(g, log=log).toPandas()
            out["cc_rounds"] = sum(e["rounds"] for e in log.entries)

    def check(self, out: dict, first: dict | None) -> dict[str, str]:
        bad: dict[str, str | None] = {}
        bad["sources.copurchase_edges"] = _differs("edges", out["m"], self.m)
        bad["graphlets.edge_counts"] = _differs("edges counted", out["edges_counted"], self.m)
        t = out["totals"]
        bad["graphlets.macro"] = _macro_problem(t, self.tri_sum, self.counts["graph.wedges"])
        mi = out["micro"]
        bad["graphlets.micro"] = _differs(
            "micro sums",
            (mi["triangle"], mi["clique4"], mi["cycle4"], mi["tailed_tri4"]),
            (3 * t["total_3_tris"], 6 * t["total_4_clique"], 4 * t["total_4_cycle"], 0),
        )
        cc = out["cc"].set_index("v")["component"].sort_index()
        if not cc.equals(self.components):
            bad["pregel.cc"] = "components differ from numpy reference"
        if first is not None:
            for span, key in (("graphlets.macro", "totals"), ("graphlets.micro", "micro")):
                if out[key] != first[key]:
                    bad[span] = bad.get(span) or f"{key} differ from the first pass"
        self.counts["pregel.cc.rounds"] = out["cc_rounds"]
        return {k: v for k, v in bad.items() if v}


# ----------------------------------------------------------- corpus_dedup
class CorpusDedup(Workload):
    """Near-duplicate documents and embeddings: the corpus operators of
    functions.dedup and functions.similarity."""

    name = "corpus_dedup"
    spans = ("dedup.minhash", "similarity.emb_neardup")
    SIZES = {
        "full": {"docs": 600, "items": 400},
        "tiny": {"docs": 200, "items": 150},
    }
    # fewer hashes and LSH tables than the operators' defaults: at these
    # sizes each extra aggregation or table adds planning and codegen
    # time, not recall the checks could see
    MINHASH = {"threshold": 0.75, "num_hashes": 16, "bands": 4}
    NEARDUP = {"threshold": 0.45, "bits": 4, "tables": 2, "dim": 64, "max_bucket": 400}

    def setup(self, spark) -> None:
        os.makedirs(self.path(), exist_ok=True)
        docs = inputs.documents(self.seed, self.p["docs"])
        embs = inputs.embeddings(self.seed, self.p["items"])
        self.docs_path, self.embs_path = self.path("documents.parquet"), self.path("embeddings.parquet")
        inputs.write_parquet(docs, self.docs_path)
        inputs.write_parquet(embs, self.embs_path)
        self.shingles = {i: inputs.shingles(t) for i, t in zip(docs.doc_id, docs.text)}
        self.vecs = {i: np.asarray(v, dtype=np.float64) for i, v in zip(embs.vec_id, embs.embedding)}

    def run_pass(self, spark, p, out: dict) -> None:
        from pgd_spark.functions.dedup import minhash_dedup
        from pgd_spark.functions.similarity import embedding_neardup_pairs

        docs = spark.read.parquet(self.docs_path)
        with p.span("dedup.minhash"):
            out["pairs"] = minhash_dedup(docs, **self.MINHASH).toPandas()
        embs = spark.read.parquet(self.embs_path)
        with p.span("similarity.emb_neardup"):
            out["emb"] = embedding_neardup_pairs(embs, **self.NEARDUP).toPandas()

    def _jaccard(self, a: int, b: int) -> float:
        sa, sb = self.shingles[a], self.shingles[b]
        return len(sa & sb) / len(sa | sb)

    def check(self, out: dict, first: dict | None) -> dict[str, str]:
        bad: dict[str, str | None] = {}
        for a, b, j in out["pairs"][["id_a", "id_b", "jaccard"]].itertuples(index=False):
            exact = self._jaccard(a, b)
            if exact < self.MINHASH["threshold"] or not math.isclose(exact, j, abs_tol=1e-6):
                bad["dedup.minhash"] = f"pair ({a}, {b}) jaccard {j} vs exact {exact}"
                break
        for a, b, sim in out["emb"][["id_a", "id_b", "sim"]].itertuples(index=False):
            va, vb = self.vecs[a], self.vecs[b]
            exact = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if exact < self.NEARDUP["threshold"] - 1e-6 or abs(exact - sim) > 1e-5:
                bad["similarity.emb_neardup"] = f"pair ({a}, {b}) cosine {sim} vs exact {exact}"
                break
        if first is not None:
            for span, key in (("dedup.minhash", "pairs"), ("similarity.emb_neardup", "emb")):
                if _pair_set(out[key]) != _pair_set(first[key]):
                    bad[span] = bad.get(span) or f"{key} differ from the first pass"
        self.counts.update(
            {
                "dedup.minhash.pairs": len(out["pairs"]),
                "similarity.emb_neardup.pairs": len(out["emb"]),
            }
        )
        return {k: v for k, v in bad.items() if v}


def _pair_set(df: pd.DataFrame) -> set:
    return set(map(tuple, df[["id_a", "id_b"]].to_numpy().tolist()))


WORKLOADS = {w.name: w for w in (CensusDense, CorpusDedup)}
