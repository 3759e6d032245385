"""Vectorized numpy checker: the expected answer of every measured call,
computed once per seed from the generated arrays, and the comparisons the
benchmark applies to each call's output outside the timed region.

Semantics mirror the engine's documented contracts:
  * PageRank: in-edge sums of score·w/wdeg_out, dangling mass dropped, L2
    stop rule, final renormalization (operators/pagerank.py).
  * WCC: component = dense rank of the component's minimum node id.
  * PLP: synchronous sweeps, max summed weight, smallest label on ties;
    nodes without neighbours keep their label.
  * Triangles: per-node count of triangles through the node.
Node ids are mapped to a dense index by sorting, so index order is id order
and "smallest label" / "minimum id" agree in both spaces.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import gen

PR_RTOL = 1e-6
PR_ATOL = 1e-12


class Graph:
    """Directed edge arrays in dense index space plus the undirected view
    (canonical u < v pairs, summed weight for a weighted graph, weight 1 for
    an unweighted one — GraphDF.to_undirected)."""

    def __init__(self, src_ids, dst_ids, weight=None):
        self.ids = np.unique(np.concatenate([src_ids, dst_ids]))
        self.n = int(self.ids.size)
        self.src = np.searchsorted(self.ids, src_ids)
        self.dst = np.searchsorted(self.ids, dst_ids)
        self.w = np.ones(self.src.size) if weight is None else np.asarray(weight, float)
        lo, hi = np.minimum(self.src, self.dst), np.maximum(self.src, self.dst)
        key, inv = np.unique(lo * self.n + hi, return_inverse=True)
        self.usrc, self.udst = key // self.n, key % self.n
        self.uw = np.ones(key.size) if weight is None else np.bincount(inv, weights=self.w)

    @property
    def m(self) -> int:
        return int(self.src.size)


def pagerank(g: Graph, tol: float, max_iterations: int, start=None,
             damping: float = 0.85) -> tuple[np.ndarray, np.ndarray, int]:
    """Returns (normalized scores, last unnormalized vector, supersteps)."""
    wdeg = np.bincount(g.src, weights=g.w, minlength=g.n)
    frac = g.w / wdeg[g.src]
    score = np.full(g.n, 1.0 / g.n) if start is None else start.copy()
    steps = 0
    while steps < max_iterations:
        new = (1.0 - damping) / g.n + damping * np.bincount(
            g.dst, weights=frac * score[g.src], minlength=g.n)
        delta = float(np.sqrt(np.sum((new - score) ** 2)))
        score = new
        steps += 1
        if delta <= tol:
            break
    return score / score.sum(), score, steps


def wcc(g: Graph) -> np.ndarray:
    lab = np.arange(g.n)
    while True:
        old = lab.copy()
        np.minimum.at(lab, g.src, lab[g.dst])
        np.minimum.at(lab, g.dst, lab[g.src])
        while True:  # pointer jumping to the current root
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
        if np.array_equal(lab, old):
            return np.unique(lab, return_inverse=True)[1]


def plp(g: Graph, iterations: int) -> np.ndarray:
    src = np.concatenate([g.usrc, g.udst])
    dst = np.concatenate([g.udst, g.usrc])
    w = np.concatenate([g.uw, g.uw])
    lab = np.arange(g.n)
    for _ in range(iterations):
        key, inv = np.unique(dst * g.n + lab[src], return_inverse=True)
        score = np.bincount(inv, weights=w)
        node, cand = key // g.n, key % g.n
        order = np.lexsort((cand, -score, node))
        node, cand = node[order], cand[order]
        first = np.r_[True, node[1:] != node[:-1]]
        lab = lab.copy()
        lab[node[first]] = cand[first]
    return g.ids[lab]


def triangles(g: Graph, chunk: int = 1 << 22) -> np.ndarray:
    """Per-node triangle counts: orient each undirected edge from lower to
    higher (degree, id), enumerate wedges u→v→w in bounded chunks and keep
    those whose closing edge u→w exists."""
    u, v = g.usrc[g.usrc != g.udst], g.udst[g.usrc != g.udst]
    deg = np.bincount(np.concatenate([u, v]), minlength=g.n)
    rank = np.lexsort((np.arange(g.n), deg)).argsort()
    flip = rank[u] > rank[v]
    a, b = np.where(flip, v, u), np.where(flip, u, v)
    order = np.argsort(a, kind="stable")
    a, b = a[order], b[order]
    keys = np.sort(a * g.n + b)
    indptr = np.r_[0, np.cumsum(np.bincount(a, minlength=g.n))]
    out_deg = np.diff(indptr)
    tri = np.zeros(g.n, dtype=np.int64)
    wedges = out_deg[b]
    ends = np.cumsum(wedges)
    lo = 0
    while lo < a.size:
        hi = max(int(np.searchsorted(ends, (ends[lo - 1] if lo else 0) + chunk)), lo + 1)
        cu, cv, cnt = a[lo:hi], b[lo:hi], wedges[lo:hi]
        wu, wv = np.repeat(cu, cnt), np.repeat(cv, cnt)
        offs = np.arange(wu.size) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        ww = b[indptr[wv] + offs]
        key = wu * g.n + ww
        pos = np.minimum(np.searchsorted(keys, key), keys.size - 1)
        hit = keys[pos] == key
        for corner in (wu[hit], wv[hit], ww[hit]):
            tri += np.bincount(corner, minlength=g.n)
        lo = hi
    return tri


def conv_edges(tr: gen.Input) -> pd.DataFrame:
    """conv→conv edges (conv_adjacency_edges): per entity (tool on tool
    turns, agent on assistant turns) order appearances by ts; consecutive
    distinct conversations give an edge weighted by multiplicity. `ts` is
    unique over the table, so ts alone fixes the order."""
    a = tr.arrays
    ent = np.where(a["role"] == 2, a["tool"].astype(np.int64),
                   np.where(a["role"] % 2 == 1, len(gen.TOOLS) + a["agent"], -1))
    sel = ent >= 0
    ent, conv, ts = ent[sel], a["conv"][sel], a["ts"][sel]
    order = np.lexsort((ts, ent))
    ent, conv = ent[order], conv[order]
    nxt = (ent[1:] == ent[:-1]) & (conv[1:] != conv[:-1])
    df = pd.DataFrame({"src": conv[:-1][nxt], "dst": conv[1:][nxt]})
    return (df.groupby(["src", "dst"]).size().rename("weight").astype(float)
            .reset_index().sort_values(["src", "dst"], ignore_index=True))


def reply_pairs(tr: gen.Input) -> pd.DataFrame:
    """(agent_key, tool_key, weight): an assistant turn directly followed by
    a tool turn of the same conversation."""
    a = tr.arrays
    nxt_same = np.r_[a["conv"][1:] == a["conv"][:-1], False]
    hit = (a["role"] % 2 == 1) & nxt_same & (np.r_[a["role"][1:], 0] == 2)
    df = pd.DataFrame({
        "agent_key": [f"agent_{i}" for i in a["agent"][hit]],
        "tool_key": np.array(gen.TOOLS)[np.r_[a["tool"][1:], -1][hit]],
    })
    return (df.groupby(["agent_key", "tool_key"]).size().rename("weight")
            .astype(float).reset_index())


# ------------------------------------------------------------- comparisons
def same_ids(got: pd.DataFrame, ids: np.ndarray) -> bool:
    return got.shape[0] == ids.size and np.array_equal(got["id"].to_numpy(), ids)


def pagerank_ok(got: pd.DataFrame, g: Graph, expected: np.ndarray) -> bool:
    got = got.sort_values("id", ignore_index=True)
    return same_ids(got, g.ids) and np.allclose(
        got["score"].to_numpy(), expected, rtol=PR_RTOL, atol=PR_ATOL)


def exact_ok(got: pd.DataFrame, col: str, g: Graph, expected: np.ndarray) -> bool:
    got = got.sort_values("id", ignore_index=True)
    return same_ids(got, g.ids) and np.array_equal(got[col].to_numpy(), expected)


def edges_ok(got: pd.DataFrame, expected: pd.DataFrame) -> bool:
    got = got.sort_values(["src", "dst"], ignore_index=True)
    return got.shape == expected.shape and all(
        np.array_equal(got[c].to_numpy(), expected[c].to_numpy())
        for c in ("src", "dst", "weight"))


def mint_ok(vertices: pd.DataFrame, edges: pd.DataFrame, expected: pd.DataFrame) -> bool:
    """mint_ids: ids are the 0-based rank of the sorted entity keys, and the
    id-mapped edges carry the expected pair weights."""
    keys = np.sort(np.unique(np.concatenate(
        [expected["agent_key"].to_numpy(), expected["tool_key"].to_numpy()])))
    v = vertices.sort_values("id", ignore_index=True)
    if not (np.array_equal(v["id"].to_numpy(), np.arange(keys.size))
            and np.array_equal(v["entity_key"].to_numpy(), keys)):
        return False
    exp = pd.DataFrame({
        "src": np.searchsorted(keys, expected["agent_key"].to_numpy()),
        "dst": np.searchsorted(keys, expected["tool_key"].to_numpy()),
        "weight": expected["weight"].to_numpy(),
    }).sort_values(["src", "dst"], ignore_index=True)
    return edges_ok(edges, exp)


def cross_check_numpy_ref(g: Graph, pr_iterations: int, plp_iterations: int,
                          expected: dict) -> list[str]:
    """Compare this checker with the repository's loop-based reference
    oracles on the same graph; returns the names of the kernels that
    disagree (empty when the checker is trusted)."""
    from networkit_spark.oracle import numpy_ref

    ids = [int(i) for i in g.ids]
    directed = list(zip(g.ids[g.src].tolist(), g.ids[g.dst].tolist(), g.w.tolist()))
    undirected = list(zip(g.ids[g.usrc].tolist(), g.ids[g.udst].tolist(), g.uw.tolist()))
    bad = []
    ref = numpy_ref.pagerank_oracle(g.n, directed, True, tol=-1.0,
                                    max_iterations=pr_iterations, node_ids=ids)
    if not np.allclose([ref[i] for i in ids], expected["pagerank"], rtol=PR_RTOL, atol=PR_ATOL):
        bad.append("pagerank")
    ref = numpy_ref.connected_components_oracle(g.n, directed, node_ids=ids)
    if [ref[i] for i in ids] != expected["wcc"].tolist():
        bad.append("wcc")
    ref = numpy_ref.plp_oracle(g.n, undirected, iterations=plp_iterations, node_ids=ids)
    if [ref[i] for i in ids] != expected["plp"].tolist():
        bad.append("plp")
    ref = numpy_ref.triangle_counts_oracle(g.n, undirected, node_ids=ids)
    if [ref[i] for i in ids] != expected["triangles"].tolist():
        bad.append("triangles")
    return bad
