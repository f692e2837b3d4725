"""Reference answers computed outside Spark from datagen's intended edges.

Every timed operation's output is checked against these. They are plain
numpy / Python so they share no code with the engine under test.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ALPHA = 0.85


class Graph:
    """The intended link graph of one fixture: vertex ids and edge endpoints
    as dense int indices (parallel edges kept, as the engine keeps them)."""

    def __init__(self, vertex_ids: pd.Series, edges: pd.DataFrame):
        self.ids = vertex_ids.to_numpy()
        self.index = pd.Index(self.ids)
        self.n = len(self.ids)
        self.src = self.index.get_indexer(edges["src"])
        self.dst = self.index.get_indexer(edges["dst"])
        if (self.src < 0).any() or (self.dst < 0).any():
            raise ValueError("intended edge endpoint missing from the vertex table")
        self.m = len(self.src)
        self._roots = None
        self._triangles = None

    # -- PageRank ---------------------------------------------------------
    def pagerank(self, epsilon: float, max_iterations: int) -> tuple[np.ndarray, int]:
        """Standard-mode power iteration exactly as the engine runs it:
        x0 = 1/sqrt(n), uniform L1 teleport v, dangling mass through v,
        L1 normalisation each superstep, stop when the L1 delta < epsilon.
        Returns (ranks in vertex order, supersteps run)."""
        n = self.n
        outdeg = np.bincount(self.src, minlength=n).astype(np.float64)
        w = 1.0 / outdeg[self.src]
        dang = outdeg == 0
        v = np.full(n, 1.0 / n)
        x = np.full(n, 1.0 / np.sqrt(n))
        for it in range(1, max_iterations + 1):
            nx = ALPHA * np.bincount(self.dst, weights=w * x[self.src], minlength=n)
            nx += (ALPHA * x[dang].sum() + (1.0 - ALPHA)) * v
            nx /= np.abs(nx).sum()
            delta = np.abs(nx - x).sum()
            x = nx
            if delta < epsilon:
                break
        return x, it

    # -- connected components ---------------------------------------------
    def component_roots(self) -> np.ndarray:
        """Weakly-connected component root per vertex (union-find)."""
        if self._roots is None:
            parent = list(range(self.n))

            def find(a: int) -> int:
                while parent[a] != a:
                    parent[a] = parent[parent[a]]
                    a = parent[a]
                return a

            for a, b in zip(self.src.tolist(), self.dst.tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            self._roots = np.array([find(a) for a in range(self.n)])
        return self._roots

    # -- triangles --------------------------------------------------------
    def triangles(self) -> int:
        """Triangles of the symmetrised, deduplicated, self-loop-free graph."""
        if self._triangles is None:
            self._triangles = self._count_triangles()
        return self._triangles

    def _count_triangles(self) -> int:
        a, b = np.minimum(self.src, self.dst), np.maximum(self.src, self.dst)
        keep = a != b
        pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
        deg = np.bincount(pairs.ravel(), minlength=self.n)
        # orient each edge from the lower (degree, index) end to the higher
        lo_first = (deg[pairs[:, 0]] < deg[pairs[:, 1]]) | (
            (deg[pairs[:, 0]] == deg[pairs[:, 1]]) & (pairs[:, 0] < pairs[:, 1])
        )
        u = np.where(lo_first, pairs[:, 0], pairs[:, 1])
        w = np.where(lo_first, pairs[:, 1], pairs[:, 0])
        out: list[set[int]] = [set() for _ in range(self.n)]
        for x, y in zip(u.tolist(), w.tolist()):
            out[x].add(y)
        return sum(len(out[x] & out[y]) for x, y in zip(u.tolist(), w.tolist()))


# -- checks: each returns None when the output is right, else a reason -------


def check_ranks(g: Graph, ranks: pd.DataFrame, supersteps: int, epsilon: float,
                max_iterations: int) -> str | None:
    want, want_steps = g.pagerank(epsilon, max_iterations)
    got = ranks.set_index("id")["rank"].reindex(g.ids).to_numpy()
    if np.isnan(got).any() or len(ranks) != g.n:
        return f"rank vector covers {len(ranks)} rows, want one per vertex ({g.n})"
    if abs(got.sum() - 1.0) > 1e-9:
        return f"ranks sum to {got.sum()!r}, want 1"
    if not np.allclose(got, want, rtol=0.0, atol=1e-6):
        return f"ranks differ from the numpy oracle by up to {np.abs(got - want).max():.3g}"
    # a delta that lands within float noise of epsilon may stop one step apart
    if abs(supersteps - want_steps) > 1:
        return f"{supersteps} supersteps, numpy oracle took {want_steps}"
    return None


def check_components(g: Graph, labels: pd.DataFrame) -> str | None:
    comp = labels.set_index("id")["component"].reindex(g.ids)
    if comp.isna().any() or len(labels) != g.n:
        return f"component labels cover {len(labels)} rows, want {g.n}"
    roots = g.component_roots()
    want = len(np.unique(roots))
    got = comp.nunique()
    if got != want:
        return f"{got} components, union-find finds {want}"
    # same partition: each union-find component carries exactly one label
    if pd.DataFrame({"r": roots, "c": comp.to_numpy()}).groupby("r")["c"].nunique().max() != 1:
        return "a union-find component is split across labels"
    return None


def check_labels(g: Graph, labels: pd.DataFrame) -> str | None:
    lab = labels.set_index("id")["label"].reindex(g.ids)
    if lab.isna().any() or len(labels) != g.n:
        return f"LPA labels cover {len(labels)} rows, want {g.n}"
    li = g.index.get_indexer(lab.to_numpy())
    if (li < 0).any():
        return "an LPA label is not a vertex id"
    roots = g.component_roots()
    if (roots[li] != roots).any():
        return "an LPA label names a vertex of another component"
    return None


def check_triangles(g: Graph, total: int) -> str | None:
    want = g.triangles()
    return None if total == want else f"{total} triangles, oracle counts {want}"


def check_manifest(committed: list[int], supersteps: int) -> str | None:
    want = list(range(supersteps))
    return None if committed == want else f"manifest commits {committed}, want {want}"
