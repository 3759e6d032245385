import math

from networkit_spark.graph import GraphDF
from networkit_spark.operators.pagerank import pagerank, pagerank_csr, pagerank_fixed
from networkit_spark.oracle.numpy_ref import pagerank_oracle

from tests.fixtures import (
    KARATE_EDGES,
    KARATE_N,
    TINY_BC_EDGES,
    TINY_BC_N,
    powerlaw_directed_edges,
)


def _scores(df):
    return {r["id"]: r["score"] for r in df.collect()}


def test_pagerank_karate_matches_oracle(spark):
    g = GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)
    got = _scores(pagerank(g, damping=0.85, tol=1e-6))
    want = pagerank_oracle(KARATE_N, KARATE_EDGES, directed=False, tol=1e-6)
    assert set(got) == set(want)
    for v in want:
        assert math.isclose(got[v], want[v], abs_tol=1e-6), (v, got[v], want[v])
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


def test_pagerank_directed_dangling_mass(spark):
    # 0→1, 0→2, 1→2 ; node 2 dangling: mass dropped then renormalized
    edges = [(0, 1), (0, 2), (1, 2)]
    g = GraphDF.from_edge_list(spark, edges, directed=True, num_nodes=3)
    got = _scores(pagerank(g, tol=1e-8))
    want = pagerank_oracle(3, edges, directed=True, tol=1e-8)
    for v in want:
        assert math.isclose(got[v], want[v], abs_tol=1e-9), (v, got, want)


def test_pagerank_powerlaw_directed(spark):
    edges = powerlaw_directed_edges(n=200, m=1200)
    ids = sorted({u for u, v in edges} | {v for u, v in edges})
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    g = GraphDF.from_edges(e, directed=True)
    got = _scores(pagerank(g, tol=1e-6))
    want = pagerank_oracle(len(ids), edges, directed=True, tol=1e-6, node_ids=ids)
    for v in want:
        assert math.isclose(got[v], want[v], abs_tol=1e-6)


def test_pagerank_fixed_iterations(spark):
    g = GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)
    got = _scores(pagerank_fixed(g, iterations=7))
    want = pagerank_oracle(
        KARATE_N, KARATE_EDGES, directed=False, tol=-1.0, max_iterations=7
    )
    for v in want:
        assert math.isclose(got[v], want[v], abs_tol=1e-9)


def test_pagerank_max_iterations_cap(spark):
    # CentralityGTest.cpp:485-512 analog: maxIterations honored
    g = GraphDF.from_edge_list(spark, TINY_BC_EDGES, num_nodes=TINY_BC_N)
    got = _scores(pagerank(g, tol=0.0, max_iterations=2))
    want = pagerank_oracle(
        TINY_BC_N, TINY_BC_EDGES, directed=False, tol=0.0, max_iterations=2
    )
    for v in want:
        assert math.isclose(got[v], want[v], abs_tol=1e-9)


def test_pagerank_self_loops_ranking_length(spark):
    # tiny_loops fixture: ranking length equals |V| with self-loops present
    edges = TINY_BC_EDGES + [(2, 2), (5, 5)]
    g = GraphDF.from_edge_list(spark, edges, num_nodes=TINY_BC_N)
    got = _scores(pagerank(g, tol=1e-6))
    assert len(got) == TINY_BC_N
    want = pagerank_oracle(TINY_BC_N, edges, directed=False, tol=1e-6)
    for v in want:
        assert math.isclose(got[v], want[v], abs_tol=1e-6)


def test_pagerank_csr_fast_path_agrees(spark):
    g = GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)
    df_path = _scores(pagerank(g, tol=1e-6))
    csr_path = _scores(pagerank_csr(g, tol=1e-6))
    for v in df_path:
        assert math.isclose(df_path[v], csr_path[v], abs_tol=1e-9)
