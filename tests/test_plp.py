from networkit_spark.graph import GraphDF
from networkit_spark.operators.plp import compact_partition, plp, plp_fixed
from networkit_spark.oracle.numpy_ref import modularity_oracle, plp_oracle

from tests.fixtures import KARATE_EDGES, KARATE_N, TINY_CC_EDGES, TINY_CC_N


def _labels(df):
    return {r["id"]: r["label"] for r in df.collect()}


def test_plp_fixed_sweeps_match_oracle(spark):
    g = GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)
    for k in (1, 2, 5):
        got = _labels(plp_fixed(g, iterations=k))
        want = plp_oracle(KARATE_N, KARATE_EDGES, iterations=k)
        assert got == want, f"sweep {k}"


def test_plp_bounded_sweeps_match_oracle(spark):
    # sync PLP can 2-cycle on bipartite structures (paths), so "run to no
    # change" need not terminate; semantics are bounded-sweep reproducible
    g = GraphDF.from_edge_list(spark, TINY_CC_EDGES, num_nodes=TINY_CC_N)
    got = _labels(plp_fixed(g, iterations=12))
    want = plp_oracle(TINY_CC_N, TINY_CC_EDGES, iterations=12)
    assert got == want


def test_plp_frontier_equals_full_recompute(spark):
    # frontier is work-skipping only: synchronous results identical
    g = GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)
    a = _labels(plp(g, update_threshold=0, max_iterations=4, use_frontier=True))
    b = _labels(plp(g, update_threshold=0, max_iterations=4, use_frontier=False))
    assert a == b


def test_plp_partition_covers_node_set(spark):
    # test_algorithms.py:235-251 analog: every node labeled exactly once
    g = GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)
    labels = plp(g, update_threshold=0, max_iterations=8)
    assert labels.count() == KARATE_N
    assert labels.select("id").distinct().count() == KARATE_N
    got = _labels(labels)
    q = modularity_oracle([(u, v, 1.0) for u, v in KARATE_EDGES], got)
    assert -0.5 <= q <= 1.0


def test_compact_partition_dense(spark):
    g = GraphDF.from_edge_list(spark, TINY_CC_EDGES, num_nodes=TINY_CC_N)
    labels = compact_partition(plp(g, update_threshold=0, max_iterations=8))
    vals = sorted({r["label"] for r in labels.collect()})
    assert vals == list(range(len(vals)))  # dense 0..k-1, sorted-old-label order
