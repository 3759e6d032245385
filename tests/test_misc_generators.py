import math
from collections import defaultdict

from pyspark.sql import functions as F

from networkit_spark.graph import GraphDF
from networkit_spark.operators.misc import (
    local_max_matching,
    luby_independent_set,
    minimum_spanning_forest,
)
from networkit_spark.operators.sparsification import (
    edge_score_normalizer,
    global_threshold_filter,
    local_degree_score,
    random_edge_score,
)
from networkit_spark.sources.generators import (
    clustered_random,
    erdos_renyi,
    rmat,
    watts_strogatz,
)

from tests.fixtures import KARATE_EDGES, KARATE_N


def _kruskal_weight(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    total = 0.0
    for w, u, v in sorted((w, u, v) for u, v, w in edges):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            total += w
    return total


def test_msf_total_weight(spark):
    edges = [
        (0, 1, 4.0), (0, 2, 1.0), (1, 2, 2.0), (1, 3, 5.0),
        (2, 3, 8.0), (3, 4, 3.0), (4, 5, 1.5), (2, 5, 9.0),
    ]
    g = GraphDF.from_edge_list(spark, edges, weighted=True, num_nodes=6)
    forest = minimum_spanning_forest(g)
    rows = forest.collect()
    got = sum(r["weight"] for r in rows)
    want = _kruskal_weight(6, edges)
    assert math.isclose(got, want, abs_tol=1e-9)
    assert len(rows) == 5  # spanning tree of connected 6-node graph


def test_luby_mis_is_maximal_independent(spark):
    g = GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)
    mis = {r["id"] for r in luby_independent_set(g).collect()}
    adj = defaultdict(set)
    for u, v in KARATE_EDGES:
        adj[u].add(v)
        adj[v].add(u)
    # independent
    for u in mis:
        assert not (adj[u] & mis)
    # maximal: every non-member has a member neighbor
    for v in range(KARATE_N):
        if v not in mis:
            assert adj[v] & mis


def test_luby_mis_lcg_matches_python_simulation(spark):
    """hash_fn='lcg' pins per-round priorities to the repo's cross-engine
    LCG (CLAUDE.md rule 9) — exact parity vs a pure-Python round-by-round
    simulation, so the driver's unrolled DuckDB oracle is checkable."""
    seed, m = 42, 1 << 31
    g = GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)
    got = {r["id"] for r in luby_independent_set(g, seed=seed, hash_fn="lcg").collect()}

    adj = defaultdict(set)
    for u, v in KARATE_EDGES:
        adj[u].add(v)
        adj[v].add(u)
    alive = set(range(KARATE_N))
    want = set()
    r = 0
    while alive:
        def pri(x):
            s = (x * 1103515245 + 12345 + seed) % m
            return ((s + r) * 1103515245 + 12345) % m
        winners = {
            u for u in alive
            if all(
                (pri(u), u) < (pri(v), v) for v in adj[u] if v in alive
            )
        }
        want |= winners
        alive -= winners | {v for w in winners for v in adj[w]}
        r += 1
    assert got == want
    for u in got:
        assert not (adj[u] & got)
    for v in range(KARATE_N):
        if v not in got:
            assert adj[v] & got


def test_local_max_matching_valid(spark):
    g = GraphDF.from_edge_list(
        spark, [(u, v, 1.0 + (u + v) % 5) for u, v in KARATE_EDGES],
        weighted=True, num_nodes=KARATE_N,
    )
    m = local_max_matching(g).collect()
    used = set()
    for r in m:
        assert r["src"] not in used and r["dst"] not in used
        used.add(r["src"])
        used.add(r["dst"])
    assert len(m) >= 5

    # one mega-hub star: leaf v hangs off hub 0 with weight 1 + v % 7, and
    # ten leaf pairs (10k, 10k+1) share a lighter 0.5 edge. Round 1 matches
    # the hub to its best leaf (max weight 7, smallest id: 6); every other
    # leaf's best edge still points at the hub. Round 2 matches the pairs.
    leaves = 3000
    star = [(0, v, 1.0 + v % 7) for v in range(1, leaves + 1)]
    star += [(10 * k, 10 * k + 1, 0.5) for k in range(1, 11)]
    g = GraphDF.from_edge_list(spark, star, weighted=True, num_nodes=leaves + 1)
    got = sorted(tuple(r) for r in local_max_matching(g).collect())
    assert got == [(0, 6, 7.0)] + [(10 * k, 10 * k + 1, 0.5) for k in range(1, 11)]


def test_threshold_filter_and_scores(spark):
    g = GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)
    rs = random_edge_score(g, seed=7)
    # deterministic across invocations
    a = sorted(map(tuple, rs.collect()))
    b = sorted(map(tuple, random_edge_score(g, seed=7).collect()))
    assert a == b
    assert all(0.0 <= r[2] <= 1.0 for r in a)
    filtered = global_threshold_filter(g, rs, 0.5)
    kept = filtered.number_of_edges()
    assert 0 < kept < len(KARATE_EDGES)
    norm = edge_score_normalizer(local_degree_score(g))
    mm = norm.agg(F.min("score"), F.max("score")).collect()[0]
    assert mm[0] >= 0.0 and mm[1] <= 1.0


def test_erdos_renyi_deterministic(spark):
    g1 = erdos_renyi(spark, 100, 0.1, seed=5)
    g2 = erdos_renyi(spark, 100, 0.1, seed=5)
    e1 = sorted(map(tuple, g1.E.select("src", "dst").collect()))
    e2 = sorted(map(tuple, g2.E.select("src", "dst").collect()))
    assert e1 == e2
    m = len(e1)
    expect = 0.1 * 100 * 99 / 2
    assert 0.6 * expect < m < 1.4 * expect


def test_rmat_skew_and_determinism(spark):
    g = rmat(spark, 10, 8, seed=9)
    m = g.number_of_edges()
    assert m > 1024  # deduped multi-edges still substantial
    deg = g.E.groupBy("src").count().orderBy(F.desc("count")).limit(1).collect()
    avg = m / g.number_of_nodes()
    assert deg[0]["count"] > 4 * avg  # hub exists
    e1 = sorted(map(tuple, g.E.select("src", "dst").collect()))
    e2 = sorted(map(tuple, rmat(spark, 10, 8, seed=9).E.select("src", "dst").collect()))
    assert e1 == e2


def test_watts_strogatz_shape(spark):
    g = watts_strogatz(spark, 60, 4, 0.1, seed=3)
    assert g.number_of_nodes() == 60
    m = g.number_of_edges()
    assert 100 <= m <= 120  # 60*2 ring edges minus rewire collisions/dups


def test_clustered_random_ground_truth(spark):
    g, truth = clustered_random(spark, 60, 3, 0.5, 0.01, seed=11)
    from networkit_spark.operators.community import modularity

    q = modularity(g, truth)
    assert q > 0.3  # planted structure is recoverable


def test_havel_hakimi_realizes_sequence(spark):
    from networkit_spark.sources.generators import havel_hakimi

    seq = [3, 3, 3, 3, 2, 2, 2, 2]  # graphical
    g = havel_hakimi(spark, seq)
    deg = {r["id"]: r["degree"] for r in g.degrees().collect()}
    assert sorted(deg.values(), reverse=True) == sorted(seq, reverse=True)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        havel_hakimi(spark, [5, 1, 1])  # not graphical


def test_chung_lu_expected_degrees(spark):
    from networkit_spark.sources.generators import chung_lu

    weights = [20.0] * 10 + [4.0] * 90
    g = chung_lu(spark, weights, seed=5)
    deg = {r["id"]: r["degree"] for r in g.degrees().collect()}
    hub_avg = sum(deg[i] for i in range(10)) / 10
    leaf_avg = sum(deg[i] for i in range(10, 100)) / 90
    assert hub_avg > 2.5 * leaf_avg  # heavy nodes concentrate
    g2 = chung_lu(spark, weights, seed=5)
    assert g2.number_of_edges() == g.number_of_edges()  # deterministic


def test_barabasi_albert_parallel(spark):
    from networkit_spark.sources.generators import barabasi_albert

    k, n = 3, 120
    g = barabasi_albert(spark, k, n, seed=11)
    assert g.number_of_nodes() == n
    deg = {r["id"]: r["degree"] for r in g.degrees().collect()}
    # every late node attaches: min degree >= 1; preferential attachment
    # concentrates on early nodes
    assert all(deg[t] >= 1 for t in range(k, n))
    early_max = max(deg[i] for i in range(10))
    late_max = max(deg[i] for i in range(n - 10, n))
    assert early_max > late_max
    # deterministic across invocations
    g2 = barabasi_albert(spark, k, n, seed=11)
    e1 = sorted((r["src"], r["dst"]) for r in g.E.collect())
    e2 = sorted((r["src"], r["dst"]) for r in g2.E.collect())
    assert e1 == e2


def test_dynamic_barabasi_stream_folds_to_static_graph(spark):
    """The event stream IS the static generator: folding it reproduces
    barabasi_albert exactly."""
    from networkit_spark.sources.generators import (
        barabasi_albert,
        dynamic_barabasi_events,
    )
    from networkit_spark.streaming.events import graph_from_events

    k, n = 3, 40
    ev = dynamic_barabasi_events(spark, k, n, seed=6)
    folded = graph_from_events(spark, ev, directed=False)
    want = barabasi_albert(spark, k, n, seed=6)
    e1 = sorted((r["src"], r["dst"]) for r in folded.E.collect())
    e2 = sorted((r["src"], r["dst"]) for r in want.E.collect())
    assert e1 == e2
    assert folded.number_of_nodes() == n


def test_dynamic_erdos_events_fold(spark):
    from networkit_spark.sources.generators import dynamic_erdos_events
    from networkit_spark.streaming.events import graph_from_events

    ev = dynamic_erdos_events(spark, 30, batches=4, events_per_batch=50, seed=2)
    assert ev.count() == 200
    g = graph_from_events(spark, ev, directed=False)
    chk = g.check_consistency()
    assert chk["duplicate_edges"] == 0 and chk["invalid_weights"] == 0


def test_hyperbolic_and_geometric_generators(spark):
    from networkit_spark.sources.generators import hyperbolic_random, random_geometric

    g = hyperbolic_random(spark, 150, avg_degree=6.0, seed=4)
    assert g.number_of_nodes() == 150
    m = g.number_of_edges()
    assert 100 < m < 3000  # degree in a sane band around the target
    deg = sorted((r["degree"] for r in g.degrees().collect()), reverse=True)
    assert deg[0] >= 4 * max(deg[len(deg) // 2], 1)  # heavy head (scale-free-ish)
    assert hyperbolic_random(spark, 150, avg_degree=6.0, seed=4).number_of_edges() == m

    g2 = random_geometric(spark, 100, radius=0.12, seed=9)
    # expected degree ≈ n·π·r² ≈ 4.5
    avg = 2 * g2.number_of_edges() / 100
    assert 1.0 < avg < 12.0


def test_algebraic_distance_edges(spark):
    from networkit_spark.operators.misc import algebraic_distance_edges

    # two cliques + bridge: the bridge edge must have the LARGEST algebraic
    # distance (smoothing homogenizes within clusters)
    cl1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    cl2 = [(a, b) for a in range(5, 10) for b in range(a + 1, 10)]
    g = GraphDF.from_edge_list(spark, cl1 + cl2 + [(4, 5)], num_nodes=10)
    out = {(r["src"], r["dst"]): r["distance"]
           for r in algebraic_distance_edges(g, systems=6, iterations=8).collect()}
    bridge = out[(4, 5)]
    intra = [d for k, d in out.items() if k != (4, 5)]
    assert bridge > max(intra)
