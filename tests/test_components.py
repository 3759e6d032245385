import pytest

from networkit_spark.graph import GraphDF
from networkit_spark.operators.components import (
    connected_components,
    extract_largest_connected_component,
    number_of_components,
    weakly_connected_components,
)
from networkit_spark.oracle.numpy_ref import connected_components_oracle

from tests.fixtures import (
    KARATE_EDGES,
    KARATE_N,
    LCC_EXTRACT_EDGES,
    LCC_EXTRACT_LARGEST_EDGES,
    LCC_EXTRACT_LARGEST_NODES,
    LCC_EXTRACT_N,
    TINY_CC_EDGES,
    TINY_CC_EXPECTED,
    TINY_CC_N,
    powerlaw_directed_edges,
)


def _labels(df, col="component"):
    return {r["id"]: r[col] for r in df.collect()}


def test_tiny_cc_exact_golden(spark):
    g = GraphDF.from_edge_list(spark, TINY_CC_EDGES, num_nodes=TINY_CC_N)
    comp = _labels(connected_components(g))
    assert comp == TINY_CC_EXPECTED  # exact ids incl. dense-rank renumbering
    assert comp[0] == comp[19] and comp[3] == comp[7]


def test_tiny_cc_matches_oracle(spark):
    g = GraphDF.from_edge_list(spark, TINY_CC_EDGES, num_nodes=TINY_CC_N)
    comp = _labels(connected_components(g))
    want = connected_components_oracle(TINY_CC_N, TINY_CC_EDGES)
    assert comp == want


def test_karate_single_component(spark):
    g = GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)
    comp = connected_components(g)
    assert number_of_components(comp) == 1


def test_directed_raises_use_wcc(spark):
    g = GraphDF.from_edge_list(spark, [(0, 1)], directed=True, num_nodes=2)
    with pytest.raises(ValueError):
        connected_components(g)


def test_weakly_cc_powerlaw(spark):
    edges = powerlaw_directed_edges(n=150, m=700)
    ids = sorted({u for u, v in edges} | {v for u, v in edges})
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    g = GraphDF.from_edges(e, directed=True)
    comp = _labels(weakly_connected_components(g))
    want = connected_components_oracle(len(ids), edges, node_ids=ids)
    assert comp == want


def test_extract_largest_connected_component(spark):
    # test_algorithms.py:429-443 analog
    g = GraphDF.from_edge_list(spark, LCC_EXTRACT_EDGES, num_nodes=LCC_EXTRACT_N)
    sub = extract_largest_connected_component(g, compact=True)
    assert sub.number_of_nodes() == LCC_EXTRACT_LARGEST_NODES
    assert sub.number_of_edges() == LCC_EXTRACT_LARGEST_EDGES
    # compacted ids are order-preserving → 0..5
    ids = sorted(r["id"] for r in sub.V.collect())
    assert ids == list(range(LCC_EXTRACT_LARGEST_NODES))


# ----------------------------------------------------------------- SCC

SCC_TINY_EDGES = [  # ConnectedComponentsGTest.cpp:151-168 (8 nodes, 14 edges)
    (0, 4), (1, 0), (2, 1), (2, 3), (3, 2), (4, 1), (5, 1),
    (5, 4), (5, 6), (6, 2), (6, 5), (7, 3), (7, 6), (7, 7),
]
SCC_TINY_GROUPS = [{0, 1, 4}, {2, 3}, {5, 6}, {7}]


def _tarjan_oracle(n, edges):
    """Iterative Tarjan (matches StronglyConnectedComponents.cpp:33
    semantics); returns list of frozenset components."""
    adj = [[] for _ in range(n)]
    for u, v in edges:
        if u != v:
            adj[u].append(v)
    index = [None] * n
    low = [0] * n
    on_stack = [False] * n
    stack = []
    comps = []
    counter = [0]

    def strongconnect(root):
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack[v] = True
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if index[w] is None:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                elif on_stack[w]:
                    low[v] = min(low[v], index[w])
            if not recurse:
                if low[v] == index[v]:
                    comp = set()
                    while True:
                        w = stack.pop()
                        on_stack[w] = False
                        comp.add(w)
                        if w == v:
                            break
                    comps.append(frozenset(comp))
                if work:
                    pv = work[-1][0]
                    low[pv] = min(low[pv], low[v])
    for v in range(n):
        if index[v] is None:
            strongconnect(v)
    return comps


def _groups(labels: dict) -> set:
    from collections import defaultdict

    g = defaultdict(set)
    for node, comp in labels.items():
        g[comp].add(node)
    return {frozenset(s) for s in g.values()}


def test_scc_tiny_golden(spark):
    from networkit_spark.operators.components import strongly_connected_components

    g = GraphDF.from_edge_list(spark, SCC_TINY_EDGES, directed=True, num_nodes=8)
    labels = _labels(strongly_connected_components(g))
    assert _groups(labels) == {frozenset(s) for s in SCC_TINY_GROUPS}
    # determinism contract: component = dense rank of SCC min id
    assert labels[0] == 0 and labels[2] == 1 and labels[5] == 2 and labels[7] == 3


def test_scc_matches_tarjan_on_powerlaw(spark):
    from networkit_spark.operators.components import strongly_connected_components

    n, edges = 120, powerlaw_directed_edges(120, 500, seed=11)
    g = GraphDF.from_edge_list(spark, edges, directed=True, num_nodes=n)
    labels = _labels(strongly_connected_components(g))
    assert _groups(labels) == set(_tarjan_oracle(n, edges))


def test_scc_requires_directed(spark):
    from networkit_spark.operators.components import strongly_connected_components

    g = GraphDF.from_edge_list(spark, [(0, 1)], num_nodes=2)
    with pytest.raises(ValueError):
        strongly_connected_components(g)


def test_wcc_broadcast_labels_bit_identical(spark):
    # broadcast_labels swaps the per-superstep shuffle join for a broadcast
    # hash join (physical plan only) — component ids must be bit-identical
    edges = powerlaw_directed_edges(n=150, m=700)
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    g = GraphDF.from_edges(e, directed=True)
    bc = _labels(weakly_connected_components(g, broadcast_labels=True))
    sh = _labels(weakly_connected_components(g, broadcast_labels=False))
    assert bc == sh


def test_wcc_jump_remap_bit_identical(spark, monkeypatch):
    # the adaptive broadcast-remap pointer jump (_JUMP_BROADCAST_ROWS) is a
    # physical-plan change only — labels must be bit-identical to the
    # shuffled |V|⋈|V| self-join it replaces (threshold 0 disables it)
    from networkit_spark.operators import components
    from networkit_spark.operators.components import _hash_min_fixpoint

    edges = powerlaw_directed_edges(n=150, m=700)
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    g = GraphDF.from_edges(e, directed=True)
    remap = _hash_min_fixpoint(g.E_sym, g.V, broadcast_labels=False)
    monkeypatch.setattr(components, "_JUMP_BROADCAST_ROWS", 0)
    shuffled = _hash_min_fixpoint(g.E_sym, g.V, broadcast_labels=False)
    assert sorted(map(tuple, remap.collect())) == sorted(
        map(tuple, shuffled.collect())
    )


def test_scc_deep_chain_with_cycles(spark):
    # regression guard for the geometric checkpoint blowup: a chain-shaped
    # directed graph (the transcripts conv shape) with a few back-edges
    # forming cycles. Before the persist-before-checkpoint ordering fix the
    # SCC inner fixpoint re-executed 3x per superstep here and effectively
    # hung; with it the whole run is seconds.
    from networkit_spark.operators.components import strongly_connected_components

    n = 240
    edges = [(i, i + 1) for i in range(n - 1)]
    # back-edges every 40 nodes -> 40-node SCC cycles along the chain
    edges += [(i + 39, i) for i in range(0, n - 40, 40)]
    g = GraphDF.from_edge_list(spark, edges, directed=True, num_nodes=n)
    labels = _labels(strongly_connected_components(g))
    assert _groups(labels) == set(_tarjan_oracle(n, edges))


def test_scc_local_finish_bit_identical(spark):
    # the bounded driver-local Tarjan finish (local_finish_threshold) is a
    # physical execution change only — component ids must be bit-identical
    # to the pure distributed path (threshold 0 disables the local finish)
    from networkit_spark.operators.components import strongly_connected_components

    edges = powerlaw_directed_edges(n=150, m=600, seed=23)
    g = GraphDF.from_edge_list(spark, edges, directed=True, num_nodes=150)
    hybrid = _labels(strongly_connected_components(g))
    pure = _labels(strongly_connected_components(g, local_finish_threshold=0))
    assert hybrid == pure
    assert _groups(hybrid) == set(_tarjan_oracle(150, edges))


def test_tarjan_local_unit():
    # driver-local Tarjan helper: two cycles bridged by a DAG edge + an
    # isolated node; labels are each SCC's min id
    from networkit_spark.operators.components import _tarjan_local

    nodes = [0, 1, 2, 3, 4, 5, 6]
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)]
    got = dict(_tarjan_local(nodes, edges))
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6}


def test_tarjan_local_deep_chain():
    # 5000-node cycle: the iterative DFS must not hit recursion limits and
    # must return one SCC
    from networkit_spark.operators.components import _tarjan_local

    n = 5000
    nodes = list(range(n))
    edges = [(i, (i + 1) % n) for i in range(n)]
    got = dict(_tarjan_local(nodes, edges))
    assert set(got.values()) == {0} and len(got) == n


def test_scc_fused_fwbw_bit_identical(spark):
    # fused forward+backward coloring (one fixpoint over the side-tagged
    # doubled edge set) vs the sequential fwd-then-class-restricted-bwd
    # rounds: different peel order per round, identical final components
    from networkit_spark.operators.components import strongly_connected_components

    edges = powerlaw_directed_edges(n=150, m=600, seed=29)
    g = GraphDF.from_edge_list(spark, edges, directed=True, num_nodes=150)
    fused = _labels(strongly_connected_components(g, fused_fwbw=True))
    seq = _labels(strongly_connected_components(g, fused_fwbw=False))
    assert fused == seq
    assert _groups(fused) == set(_tarjan_oracle(150, edges))
