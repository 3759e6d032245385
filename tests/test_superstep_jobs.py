"""Driver-sequenced job counts and cache hygiene of the superstep loops.

Job launch and planning dominate small supersteps, so a refactor of a loop
may not add jobs. The ceilings below are the counts the loops launched
before they shared `plans/fixpoint.py`, measured with this file's protocol
(call, then `count()` the result, all under one job group) at local[4] with
8 shuffle partitions; repeated runs gave identical counts.
"""

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import GraphDF
from networkit_spark.operators.components import (
    _hash_min_fixpoint,
    _struct_max_fixpoint,
    strongly_connected_components,
    weakly_connected_components,
)
from networkit_spark.operators.kcore import core_decomposition_hindex
from networkit_spark.operators.pagerank import pagerank, pagerank_fixed
from networkit_spark.operators.plp import plp, plp_fixed
from networkit_spark.operators.triangles import triangle_counts
from networkit_spark.plans.ranking import (
    dense_rank_of_distinct,
    global_row_numbers,
    per_key_row_numbers,
    prefix_sums,
    prefix_sums_multi,
)
from networkit_spark.sources.transcripts import (
    mint_ids,
    reply_pairs,
    synthesize_transcripts,
)

from tests.fixtures import KARATE_EDGES, KARATE_N, powerlaw_directed_edges


def _karate(spark):
    return GraphDF.from_edge_list(spark, KARATE_EDGES, num_nodes=KARATE_N)


def _powerlaw(spark):
    edges = powerlaw_directed_edges(n=150, m=700)
    e = spark.createDataFrame(
        [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    return GraphDF.from_edges(e, directed=True)


# name -> (graph builder, call, job ceiling)
CALLS = {
    "hash_min_fixpoint": (_karate, lambda g: _hash_min_fixpoint(g.E_sym, g.V), 35),
    "kcore_hindex": (_karate, core_decomposition_hindex, 30),
    "wcc": (_powerlaw, weakly_connected_components, 53),
    "scc": (_powerlaw, strongly_connected_components, 84),
    "pagerank_fixed": (_karate, lambda g: pagerank_fixed(g, iterations=7), 43),
    "pagerank_tol": (_karate, lambda g: pagerank(g, tol=1e-6), 171),
    "plp_fixed": (_karate, lambda g: plp_fixed(g, iterations=5), 39),
    "plp": (_karate, lambda g: plp(g, max_iterations=8), 119),
}


def _jobs_of(spark, group, fn):
    """Jobs launched by `fn()`, which must end in its own actions."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(CALLS))
def test_superstep_job_count_at_most_before(spark, name):
    build, call, ceiling = CALLS[name]
    g = build(spark)
    g.V.count()  # graph construction is not the loop's work
    assert _jobs_of(spark, f"jobs-{name}", lambda: call(g).count()) <= ceiling


def _mint_collected(spark):
    vertices, edges = mint_ids(reply_pairs(synthesize_transcripts(spark, 200)))
    vertices.collect()
    edges.collect()


# Input-layer calls. Before mint_ids read its pair table once and the rank
# applied partition offsets by lookup, these launched 21 (mint_ids) and 11
# (dense_rank_of_distinct) jobs with this protocol; the ceilings are the
# counts since.
INPUT_CALLS = {
    "mint_ids": (_mint_collected, 13),
    "dense_rank_of_distinct": (
        lambda spark: dense_rank_of_distinct(
            spark.range(600).select((F.col("id") % 37).alias("label")),
            "label", "r",
        ).count(),
        8,
    ),
}


@pytest.mark.parametrize("name", sorted(INPUT_CALLS))
def test_input_layer_job_count_at_most(spark, name):
    call, ceiling = INPUT_CALLS[name]
    assert _jobs_of(spark, f"jobs-{name}", lambda: call(spark)) <= ceiling


def _cached_entries(spark):
    """Identity hashes of the cache manager's entries (private field; reading
    it starts no Spark job)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    seq = field.get(cm)
    ident = spark._jvm.java.lang.System.identityHashCode
    return {ident(seq.apply(i)) for i in range(seq.size())}


def _struct_max_call(g):
    edges = (
        g.E.select("src", "dst").filter("src != dst")
        .repartition("src").sortWithinPartitions("src")
        .localCheckpoint(eager=True)
    )
    init = g.V.select(
        "id",
        F.struct(
            F.xxhash64("id", F.lit(77)).alias("p"), F.col("id").alias("n")
        ).alias("c"),
    ).localCheckpoint(eager=True)
    return _struct_max_fixpoint(edges, init, max_inner=100)


@pytest.mark.parametrize(
    "build,call",
    [
        (_karate, lambda g: _hash_min_fixpoint(g.E_sym, g.V)),
        (_powerlaw, _struct_max_call),
        (_karate, core_decomposition_hindex),
    ],
    ids=["hash_min_fixpoint", "struct_max_fixpoint", "kcore_hindex"],
)
def test_fixpoint_releases_every_cache(spark, build, call):
    g = build(spark)
    before = _cached_entries(spark)
    out = call(g)
    out.count()
    assert _cached_entries(spark) - before == set()


def _keyed(spark, mult):
    # distinct data per case, so no case can reuse another's cached plan
    return spark.range(300).select(
        ((F.col("id") * mult) % 300).alias("x"), (F.col("id") % 4).alias("v")
    )


@pytest.mark.parametrize(
    "call",
    [
        lambda spark: global_row_numbers(_keyed(spark, 41), ["x"]),
        lambda spark: prefix_sums(_keyed(spark, 43), "x", "v"),
        lambda spark: prefix_sums_multi(_keyed(spark, 47), ["x"], ["v"]),
        lambda spark: per_key_row_numbers(_keyed(spark, 53), ["v"], ["x"]),
        lambda spark: mint_ids(reply_pairs(synthesize_transcripts(spark, 173)))[1],
        lambda spark: triangle_counts(_karate(spark)),
    ],
    ids=[
        "global_row_numbers", "prefix_sums", "prefix_sums_multi",
        "per_key_row_numbers", "mint_ids", "triangle_counts",
    ],
)
def test_ranking_and_input_calls_release_every_cache(spark, call):
    before = _cached_entries(spark)
    call(spark).count()
    assert _cached_entries(spark) - before == set()
