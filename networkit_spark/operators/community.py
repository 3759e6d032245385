"""Community quality + coarsening + partition measures (SURVEY §2.5).

Modularity (networkit/cpp/community/Modularity.cpp:25-87):
    Q = intra/total − Σ_C vol(C)² / (2·total)²
with self-loop weight counted ONCE in total/intra but TWICE in volume
(Modularity.cpp:50, Graph.cpp:470-491).

ParallelPartitionCoarsening (networkit/cpp/coarsening/
ParallelPartitionCoarsening.cpp:23-52): contract the graph by a partition —
exactly a groupBy on (label(src), label(dst)).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from networkit_spark.graph import GraphDF


def modularity(graph: GraphDF, partition: DataFrame) -> float:
    """Scalar Q for an undirected (possibly weighted) graph and a partition
    (id, label)."""
    p_src = partition.select(F.col("id").alias("src"), F.col("label").alias("l_src"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("label").alias("l_dst"))
    e = graph.E.join(p_src, "src").join(p_dst, "dst")
    agg = e.agg(
        F.sum("weight").alias("total"),
        F.sum(
            F.when(F.col("l_src") == F.col("l_dst"), F.col("weight")).otherwise(0.0)
        ).alias("intra"),
    ).collect()[0]
    total, intra = float(agg["total"] or 0.0), float(agg["intra"] or 0.0)
    if total == 0:
        return 0.0
    # volume per community: self-loops count twice (Modularity.cpp:50)
    w_src = e.select(
        F.col("l_src").alias("label"),
        F.when(F.col("src") == F.col("dst"), 2 * F.col("weight"))
        .otherwise(F.col("weight"))
        .alias("w"),
    )
    w_dst = e.filter(F.col("src") != F.col("dst")).select(
        F.col("l_dst").alias("label"), F.col("weight").alias("w")
    )
    vol = (
        w_src.unionByName(w_dst)
        .groupBy("label")
        .agg(F.sum("w").alias("vol"))
        .agg(F.sum(F.col("vol") * F.col("vol")))
        .collect()[0][0]
    )
    return intra / total - float(vol or 0.0) / ((2.0 * total) ** 2)


def coverage(graph: GraphDF, partition: DataFrame) -> float:
    """Coverage (community/Coverage.cpp): intra-community edge weight /
    total edge weight."""
    p_src = partition.select(F.col("id").alias("src"), F.col("label").alias("l_src"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("label").alias("l_dst"))
    agg = (
        graph.E.join(p_src, "src")
        .join(p_dst, "dst")
        .agg(
            F.sum("weight").alias("total"),
            F.sum(
                F.when(
                    F.col("l_src") == F.col("l_dst"), F.col("weight")
                ).otherwise(0.0)
            ).alias("intra"),
        )
        .collect()[0]
    )
    return float(agg["intra"] or 0) / float(agg["total"] or 1)


def coarsen_by_partition(
    graph: GraphDF, partition: DataFrame
) -> tuple[GraphDF, DataFrame]:
    """ParallelPartitionCoarsening.cpp:23-52: supernode per label (compacted
    to dense ids in sorted-label order); edge weights summed; intra-community
    edges become self-loops. Returns (coarse_graph, mapping(id, super_id))."""
    from networkit_spark.plans.ranking import dense_rank_of_distinct

    lbls = dense_rank_of_distinct(partition, "label", "super_id")
    mapping = partition.join(lbls, "label").select("id", "super_id")
    m_src = mapping.select(F.col("id").alias("src"), F.col("super_id").alias("s_src"))
    m_dst = mapping.select(F.col("id").alias("dst"), F.col("super_id").alias("s_dst"))
    e = (
        graph.E.join(m_src, "src")
        .join(m_dst, "dst")
        .select(
            F.least("s_src", "s_dst").alias("src")
            if not graph.directed
            else F.col("s_src").alias("src"),
            F.greatest("s_src", "s_dst").alias("dst")
            if not graph.directed
            else F.col("s_dst").alias("dst"),
            "weight",
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )
    v = lbls.select(F.col("super_id").alias("id"))
    return (
        GraphDF(v, e, directed=graph.directed, weighted=True),
        mapping,
    )


# ----------------------------------------------- partition similarity (§2.5)
def _contingency(a: DataFrame, b: DataFrame) -> DataFrame:
    """Joint label-pair counts of two partitions over the same node set."""
    return (
        a.select("id", F.col("label").alias("la"))
        .join(b.select("id", F.col("label").alias("lb")), "id")
        .groupBy("la", "lb")
        .agg(F.count("*").alias("n"))
    )


def rand_measure(a: DataFrame, b: DataFrame) -> float:
    """NodeStructuralRandMeasure (community/NodeStructuralRandMeasure.cpp):
    DISAGREEMENT distance in [0,1] — fraction of node pairs on which the two
    partitions disagree (0 = identical clusterings)."""
    cont = _contingency(a, b).persist()
    n = cont.agg(F.sum("n")).collect()[0][0]
    s_ab = cont.agg(F.sum(F.col("n") * (F.col("n") - 1) / 2)).collect()[0][0]
    s_a = (
        cont.groupBy("la").agg(F.sum("n").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2)).collect()[0][0]
    )
    s_b = (
        cont.groupBy("lb").agg(F.sum("n").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2)).collect()[0][0]
    )
    cont.unpersist()
    pairs = n * (n - 1) / 2
    if pairs == 0:
        return 0.0
    agree = pairs - s_a - s_b + 2 * s_ab
    return 1.0 - agree / pairs


def jaccard_partition_measure(a: DataFrame, b: DataFrame) -> float:
    """JaccardMeasure (community/JaccardMeasure.cpp) distance over co-member
    pairs: 1 − |pairs_ab| / (|pairs_a| + |pairs_b| − |pairs_ab|)."""
    cont = _contingency(a, b).persist()
    s_ab = cont.agg(F.sum(F.col("n") * (F.col("n") - 1) / 2)).collect()[0][0]
    s_a = (
        cont.groupBy("la").agg(F.sum("n").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2)).collect()[0][0]
    )
    s_b = (
        cont.groupBy("lb").agg(F.sum("n").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2)).collect()[0][0]
    )
    cont.unpersist()
    union = s_a + s_b - s_ab
    if not union:
        return 0.0
    return 1.0 - float(s_ab) / float(union)


def partition_intersection(a: DataFrame, b: DataFrame) -> DataFrame:
    """PartitionIntersection (community/PartitionIntersection.cpp): finest
    common refinement — new label per distinct (la, lb) pair, dense ids in
    sorted (la, lb) order."""
    from networkit_spark.plans.ranking import global_row_numbers

    joined = a.select("id", F.col("label").alias("la")).join(
        b.select("id", F.col("label").alias("lb")), "id"
    )
    lbls = global_row_numbers(
        joined.select("la", "lb").distinct(), ["la", "lb"], out_col="label"
    )
    return joined.join(lbls, ["la", "lb"]).select("id", "label")


def nmi_distance(a: DataFrame, b: DataFrame) -> float:
    """NMIDistance (community/NMIDistance.cpp:17-134): dissimilarity
    NMID = 1 − 2·MI/(H(a)+H(b)) with log₂ entropies; 0 when both entropies
    are 0. MI from the contingency table:
        MI = Σ_{C,D} |C∩D|/n · log₂(|C∩D|·n / (|C|·|D|))
    One contingency groupBy + two marginal groupBys — no per-pair space."""
    cont = _contingency(a, b).persist()
    n = cont.agg(F.sum("n")).collect()[0][0]
    if not n:
        cont.unpersist()
        return 0.0
    sa = cont.groupBy("la").agg(F.sum("n").alias("ca"))
    sb = cont.groupBy("lb").agg(F.sum("n").alias("cb"))
    ln2 = math.log(2.0)
    mi = (
        cont.join(sa, "la")
        .join(sb, "lb")
        .agg(
            F.sum(
                (F.col("n") / F.lit(float(n)))
                * F.log(F.col("n") * F.lit(float(n)) / (F.col("ca") * F.col("cb")))
                / F.lit(ln2)
            )
        )
        .collect()[0][0]
        or 0.0
    )
    def _entropy(marg, col):
        return (
            marg.agg(
                F.sum(
                    -(F.col(col) / F.lit(float(n)))
                    * F.log(F.col(col) / F.lit(float(n)))
                    / F.lit(ln2)
                )
            ).collect()[0][0]
            or 0.0
        )
    h_sum = _entropy(sa, "ca") + _entropy(sb, "cb")
    cont.unpersist()
    if abs(h_sum) < 1e-15:
        return 0.0
    return 1.0 - (2.0 * mi) / h_sum


def adjusted_rand_distance(a: DataFrame, b: DataFrame) -> float:
    """AdjustedRandMeasure (community/AdjustedRandMeasure.cpp:5-54):
    1 − (randIndex − expected)/(maxIndex − expected) over co-member pair
    counts; 0 when maxIndex is 0 or equals expected."""
    cont = _contingency(a, b).persist()
    n = cont.agg(F.sum("n")).collect()[0][0] or 0
    rand_idx = (
        cont.agg(F.sum(F.floor(F.col("n") * (F.col("n") - 1) / 2))).collect()[0][0]
        or 0
    )
    sum_a = (
        cont.groupBy("la").agg(F.sum("n").alias("n"))
        .agg(F.sum(F.floor(F.col("n") * (F.col("n") - 1) / 2))).collect()[0][0]
        or 0
    )
    sum_b = (
        cont.groupBy("lb").agg(F.sum("n").alias("n"))
        .agg(F.sum(F.floor(F.col("n") * (F.col("n") - 1) / 2))).collect()[0][0]
        or 0
    )
    cont.unpersist()
    denominator = n * (n - 1) / 2
    if not denominator:
        return 0.0
    max_index = 0.5 * float(sum_a + sum_b)
    expected = float(sum_a * sum_b) / float(denominator)
    if max_index == 0 or max_index == expected:
        return 0.0
    return 1.0 - (float(rand_idx) - expected) / (max_index - expected)


def graph_structural_rand(graph: GraphDF, a: DataFrame, b: DataFrame) -> float:
    """GraphStructuralRandMeasure (community/GraphStructuralRandMeasure.cpp):
    1 − (e11 + e00)/m over EDGES (connected pairs only) — one edge-table
    join against both partitions."""
    la = a.select("id", F.col("label").alias("pa"))
    lb = b.select("id", F.col("label").alias("pb"))
    lab = la.join(lb, "id")
    l_src = lab.select(
        F.col("id").alias("src"), F.col("pa").alias("pa_s"), F.col("pb").alias("pb_s")
    )
    l_dst = lab.select(
        F.col("id").alias("dst"), F.col("pa").alias("pa_d"), F.col("pb").alias("pb_d")
    )
    agg = (
        graph.E.join(l_src, "src")
        .join(l_dst, "dst")
        .agg(
            F.count("*").alias("m"),
            F.sum(
                F.when(
                    (F.col("pa_s") == F.col("pa_d"))
                    == (F.col("pb_s") == F.col("pb_d")),
                    1,
                ).otherwise(0)
            ).alias("agree"),
        )
        .collect()[0]
    )
    m = agg["m"] or 0
    if m == 0:
        raise ValueError(
            "graph-structural rand measure undefined for edgeless graphs"
        )
    return 1.0 - float(agg["agree"] or 0) / float(m)


def hub_dominance(graph: GraphDF, partition: DataFrame) -> DataFrame:
    """HubDominance (community/HubDominance.cpp; the same quantity
    community/PartitionHubDominance.cpp exposes as a per-partition quality
    measure): per community, max internal degree / (community size − 1)."""
    p_src = partition.select(F.col("id").alias("src"), F.col("label").alias("l_src"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("label").alias("l_dst"))
    intra = (
        graph.E_sym.filter("src != dst")
        .join(p_src, "src")
        .join(p_dst, "dst")
        .filter(F.col("l_src") == F.col("l_dst"))
        .groupBy(F.col("src").alias("id"), F.col("l_src").alias("label"))
        .agg(F.count("*").alias("ideg"))
    )
    sizes = partition.groupBy("label").agg(F.count("*").alias("sz"))
    maxes = intra.groupBy("label").agg(F.max("ideg").alias("max_ideg"))
    return sizes.join(maxes, "label", "left").select(
        "label",
        F.when(
            F.col("sz") > 1,
            F.coalesce("max_ideg", F.lit(0)) / (F.col("sz") - 1),
        )
        .otherwise(F.lit(1.0))
        .alias("dominance"),
    )


def intrapartition_density(graph: GraphDF, partition: DataFrame) -> DataFrame:
    """IntrapartitionDensity (community/IntrapartitionDensity.cpp): per
    community, intra-edge count / possible pairs."""
    p_src = partition.select(F.col("id").alias("src"), F.col("label").alias("l_src"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("label").alias("l_dst"))
    intra = (
        graph.E.filter("src != dst")
        .join(p_src, "src")
        .join(p_dst, "dst")
        .filter(F.col("l_src") == F.col("l_dst"))
        .groupBy(F.col("l_src").alias("label"))
        .agg(F.count("*").alias("m_in"))
    )
    sizes = partition.groupBy("label").agg(F.count("*").alias("sz"))
    return sizes.join(intra, "label", "left").select(
        "label",
        F.when(
            F.col("sz") > 1,
            F.coalesce("m_in", F.lit(0))
            / (F.col("sz") * (F.col("sz") - 1) / 2.0),
        )
        .otherwise(F.lit(0.0))
        .alias("density"),
    )


def cover_f1_similarity(cover: DataFrame, reference: DataFrame) -> DataFrame:
    """CoverF1Similarity (community/CoverF1Similarity.cpp): per cluster c of
    `cover` (overlapping: rows (id, subset)), the best F1 against any
    reference cluster: F1 = 2·ol/(|c|+|s|) maximized over s. One membership
    join + two size joins — contingency-shaped, never per-pair."""
    c = cover.select("id", F.col("subset").alias("c"))
    r = reference.select("id", F.col("subset").alias("s"))
    c_sz = c.groupBy("c").agg(F.count("*").alias("c_sz"))
    r_sz = r.groupBy("s").agg(F.count("*").alias("s_sz"))
    ol = c.join(r, "id").groupBy("c", "s").agg(F.count("*").alias("ol"))
    f1 = (
        ol.join(c_sz, "c")
        .join(r_sz, "s")
        .select(
            "c",
            (2.0 * F.col("ol") / (F.col("c_sz") + F.col("s_sz"))).alias("f1"),
        )
        .groupBy("c")
        .agg(F.max("f1").alias("f1"))
    )
    return c_sz.join(f1, "c", "left").select(
        F.col("c").alias("subset"), F.coalesce("f1", F.lit(0.0)).alias("f1")
    )


def _cluster_cut_volume(graph: GraphDF, partition: DataFrame) -> DataFrame:
    """(label, cut, volume, size) per cluster — IsolatedInterpartition*
    accumulation (IsolatedInterpartitionConductance.cpp:15-31): every edge
    adds w to both endpoint clusters' volume; inter-cluster edges add w to
    both clusters' cut."""
    p_src = partition.select(F.col("id").alias("src"), F.col("label").alias("l_src"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("label").alias("l_dst"))
    je = graph.E.join(p_src, "src").join(p_dst, "dst")
    per = je.select(F.col("l_src").alias("label"), "l_dst", "weight").unionByName(
        je.select(F.col("l_dst").alias("label"), F.col("l_src").alias("l_dst"), "weight")
    )
    agg = per.groupBy("label").agg(
        F.sum("weight").alias("volume"),
        F.sum(
            F.when(F.col("label") != F.col("l_dst"), F.col("weight")).otherwise(0.0)
        ).alias("cut"),
    )
    sizes = partition.groupBy("label").agg(F.count("*").alias("size"))
    return sizes.join(agg, "label", "left").select(
        "label",
        F.coalesce("cut", F.lit(0.0)).alias("cut"),
        F.coalesce("volume", F.lit(0.0)).alias("volume"),
        "size",
    )


def isolated_interpartition_conductance(
    graph: GraphDF, partition: DataFrame
) -> DataFrame:
    """(label, conductance): cut(C) / min(vol(C), totalVol − vol(C))
    (IsolatedInterpartitionConductance.cpp:36-52)."""
    cv = _cluster_cut_volume(graph, partition).persist()
    total = cv.agg(F.sum("volume")).collect()[0][0] or 0.0
    return cv.select(
        "label",
        F.when(
            F.least(F.col("volume"), F.lit(total) - F.col("volume")) > 0,
            F.col("cut") / F.least(F.col("volume"), F.lit(total) - F.col("volume")),
        )
        .otherwise(F.lit(0.0))
        .alias("conductance"),
    )


def isolated_interpartition_expansion(
    graph: GraphDF, partition: DataFrame
) -> DataFrame:
    """(label, expansion): cut(C) / min(|C|, n − |C|)
    (IsolatedInterpartitionExpansion.cpp:40)."""
    cv = _cluster_cut_volume(graph, partition)
    n = partition.count()
    return cv.select(
        "label",
        F.when(
            F.least(F.col("size"), F.lit(n) - F.col("size")) > 0,
            F.col("cut") / F.least(F.col("size"), F.lit(n) - F.col("size")),
        )
        .otherwise(F.lit(0.0))
        .alias("expansion"),
    )


def partition_fragmentation(graph: GraphDF, partition: DataFrame) -> DataFrame:
    """PartitionFragmentation.cpp:6-43: per cluster C, 1 − (size of C's
    largest connected fragment)/|C|, fragments = intersection of the
    partition with the graph's connected components."""
    from networkit_spark.operators.components import connected_components

    cc = connected_components(
        graph if not graph.directed else GraphDF(
            graph.V, graph.E, directed=False, weighted=graph.weighted
        )
    ).select("id", F.col("component").alias("ccl"))
    joined = partition.join(cc, "id")
    frag_sz = joined.groupBy("label", "ccl").agg(F.count("*").alias("fsz"))
    biggest = frag_sz.groupBy("label").agg(F.max("fsz").alias("big"))
    sizes = partition.groupBy("label").agg(F.count("*").alias("sz"))
    return sizes.join(biggest, "label").select(
        "label", (1.0 - F.col("big") / F.col("sz")).alias("fragmentation")
    )


def stable_partition_nodes(graph: GraphDF, partition: DataFrame) -> DataFrame:
    """StablePartitionNodes.cpp:7-40: node u is STABLE iff the summed edge
    weight to its own label is positive and strictly exceeds the weight to
    every other label (isolated nodes are stable). Returns (id, stable)."""
    p_src = partition.select(F.col("id").alias("src"), F.col("label").alias("own"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("label").alias("nbl"))
    lw = (
        graph.E_sym.join(p_src, "src")
        .join(p_dst, "dst")
        .groupBy(F.col("src").alias("id"), "own", F.col("nbl"))
        .agg(F.sum("weight").alias("w"))
    )
    verdict = lw.groupBy("id").agg(
        F.max(F.when(F.col("nbl") == F.col("own"), F.col("w"))).alias("own_w"),
        F.max(F.when(F.col("nbl") != F.col("own"), F.col("w"))).alias("other_w"),
    ).select(
        "id",
        (
            (F.coalesce("own_w", F.lit(0.0)) > 0)
            & (
                F.coalesce("own_w", F.lit(0.0))
                > F.coalesce("other_w", F.lit(-1.0))
            )
        ).alias("stable"),
    )
    return partition.select("id").join(verdict, "id", "left").select(
        "id", F.coalesce("stable", F.lit(True)).alias("stable")
    )


def edge_cut(graph: GraphDF, partition: DataFrame) -> float:
    """EdgeCut (community/EdgeCut.cpp:12-20): total weight of edges whose
    endpoints sit in different blocks, each edge counted once."""
    p_src = partition.select(F.col("id").alias("src"), F.col("label").alias("l_src"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("label").alias("l_dst"))
    row = (
        graph.E.join(p_src, "src")
        .join(p_dst, "dst")
        .filter(F.col("l_src") != F.col("l_dst"))
        .agg(F.sum("weight").alias("cut"))
        .collect()[0]
    )
    return float(row["cut"] or 0.0)


def cover_hub_dominance(graph: GraphDF, cover: DataFrame) -> DataFrame:
    """CoverHubDominance (community/CoverHubDominance.cpp): per subset of an
    OVERLAPPING cover (id, subset), max internal degree / (size − 1) —
    internal = neighbors sharing that same subset."""
    m_src = cover.select(F.col("id").alias("src"), "subset")
    m_dst = cover.select(F.col("id").alias("dst"), "subset")
    intra = (
        graph.E_sym.filter("src != dst")
        .join(m_src, "src")
        .join(m_dst, ["dst", "subset"])
        .groupBy(F.col("src").alias("id"), "subset")
        .agg(F.count("*").alias("ideg"))
    )
    sizes = cover.groupBy("subset").agg(F.count("*").alias("sz"))
    maxes = intra.groupBy("subset").agg(F.max("ideg").alias("max_ideg"))
    return sizes.join(maxes, "subset", "left").select(
        "subset",
        F.when(
            F.col("sz") > 1,
            F.coalesce("max_ideg", F.lit(0)) / (F.col("sz") - 1),
        )
        .otherwise(F.lit(1.0))
        .alias("dominance"),
    )


def _lcg_key(col, seed: int):
    return ((col + F.lit(seed)) * F.lit(1103515245) + F.lit(12345)) % F.lit(
        2147483648
    )


def sampled_node_structural_rand(
    graph: GraphDF, a: DataFrame, b: DataFrame, n_samples: int,
    seed: int = 42,
) -> float:
    """SampledNodeStructuralRandMeasure
    (community/SampledNodeStructuralRandMeasure.cpp:17-47): dissimilarity
    1 − (n11+n00)/samples over sampled node pairs. Deterministic analog of
    the reference's RNG draw: the i-th pair zips two LCG-seeded orderings
    of V (cross-engine-expressible, like every sampled operator here);
    pairs with u == v are discarded exactly as the reference does."""
    from networkit_spark.plans.ranking import global_row_numbers

    us = global_row_numbers(
        graph.V.select("id", _lcg_key(F.col("id"), seed).alias("k")),
        ["k", "id"], out_col="i",
    ).filter(F.col("i") < n_samples).select("i", F.col("id").alias("u"))
    vs = global_row_numbers(
        graph.V.select("id", _lcg_key(F.col("id"), seed + 1).alias("k")),
        ["k", "id"], out_col="i",
    ).filter(F.col("i") < n_samples).select("i", F.col("id").alias("v"))
    pairs = us.join(vs, "i").filter(F.col("u") != F.col("v"))
    la = a.select(F.col("id").alias("u"), F.col("label").alias("au"))
    lb = b.select(F.col("id").alias("u"), F.col("label").alias("bu"))
    la2 = a.select(F.col("id").alias("v"), F.col("label").alias("av"))
    lb2 = b.select(F.col("id").alias("v"), F.col("label").alias("bv"))
    agg = (
        pairs.join(la, "u").join(lb, "u").join(la2, "v").join(lb2, "v")
        .agg(
            F.count("*").alias("s"),
            F.sum(
                F.when(
                    (F.col("au") == F.col("av")) == (F.col("bu") == F.col("bv")),
                    1,
                ).otherwise(0)
            ).alias("agree"),
        )
        .collect()[0]
    )
    s = agg["s"] or 0
    if s == 0:
        raise ValueError("no valid sampled pairs")
    return 1.0 - float(agg["agree"] or 0) / float(s)


def sampled_graph_structural_rand(
    graph: GraphDF, a: DataFrame, b: DataFrame, n_samples: int,
    seed: int = 42,
) -> float:
    """SampledGraphStructuralRandMeasure
    (community/SampledGraphStructuralRandMeasure.cpp): the edge-sampled
    variant — agreement over n_samples LCG-selected EDGES."""
    sampled = (
        graph.E.select("src", "dst")
        .orderBy(_lcg_key(F.col("src") * 131 + F.col("dst"), seed), "src", "dst")
        .limit(n_samples)
    )
    la = a.select(F.col("id").alias("src"), F.col("label").alias("pa_s"))
    lb = b.select(F.col("id").alias("src"), F.col("label").alias("pb_s"))
    la2 = a.select(F.col("id").alias("dst"), F.col("label").alias("pa_d"))
    lb2 = b.select(F.col("id").alias("dst"), F.col("label").alias("pb_d"))
    agg = (
        sampled.join(la, "src").join(lb, "src").join(la2, "dst").join(lb2, "dst")
        .agg(
            F.count("*").alias("s"),
            F.sum(
                F.when(
                    (F.col("pa_s") == F.col("pa_d"))
                    == (F.col("pb_s") == F.col("pb_d")),
                    1,
                ).otherwise(0)
            ).alias("agree"),
        )
        .collect()[0]
    )
    s = agg["s"] or 0
    if s == 0:
        raise ValueError("no sampled edges")
    return 1.0 - float(agg["agree"] or 0) / float(s)


def project_partition_back(
    fine_to_coarse: DataFrame, coarse_labels: DataFrame
) -> DataFrame:
    """ClusteringProjector (coarsening/ClusteringProjector.cpp
    projectBack): a fine node inherits the label of its supernode —
    one broadcastable join. fine_to_coarse: (id, super_id); coarse_labels:
    (id, label) over supernode ids."""
    sup = coarse_labels.select(
        F.col("id").alias("super_id"), F.col("label")
    )
    return fine_to_coarse.join(sup, "super_id").select("id", "label")


def matching_coarsening(
    graph: GraphDF, matching: DataFrame, no_self_loops: bool = False
) -> tuple[GraphDF, DataFrame]:
    """MatchingCoarsening (coarsening/MatchingCoarsening.cpp:16-56):
    contract each matched pair into one supernode; coarse ids follow the
    reference's node-scan order = dense rank of the representative
    (min(v, mate), or v itself when unmatched); coarse edge weight = sum
    of fine weights over the mapped pair (v ≤ u scan ⇒ each fine edge
    once); intra-pair edges become self loops unless no_self_loops.

    matching: (src, dst) matched pairs. Returns (coarse GraphDF,
    fine→coarse mapping (id, super_id))."""
    from networkit_spark.plans.ranking import dense_rank_of_distinct

    if graph.directed:
        raise ValueError("only defined for undirected graphs")
    mates = matching.select(
        F.col("src").alias("id"), F.least("src", "dst").alias("rep")
    ).unionByName(
        matching.select(
            F.col("dst").alias("id"), F.least("src", "dst").alias("rep")
        )
    )
    reps = graph.V.join(mates, "id", "left").select(
        "id", F.coalesce("rep", F.col("id")).alias("rep")
    )
    ranked = dense_rank_of_distinct(
        reps.select(F.col("rep").alias("label")), "label", "super_id"
    )
    mapping = reps.join(
        ranked, reps.rep == ranked.label
    ).select("id", "super_id")
    m_src = mapping.select(F.col("id").alias("src"), F.col("super_id").alias("cs"))
    m_dst = mapping.select(F.col("id").alias("dst"), F.col("super_id").alias("cd"))
    ce = (
        graph.E.join(m_src, "src")
        .join(m_dst, "dst")
        .select(
            F.least("cs", "cd").alias("src"),
            F.greatest("cs", "cd").alias("dst"),
            "weight",
        )
    )
    if no_self_loops:
        ce = ce.filter(F.col("src") != F.col("dst"))
    ce = ce.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    cv = mapping.select(F.col("super_id").alias("id")).distinct()
    return (
        GraphDF(cv, ce, directed=False, weighted=True),
        mapping,
    )


# ------------------------------------------------------ GraphClusteringTools
# community/GraphClusteringTools.cpp:20-116 — partition/graph utilities.


def communication_graph(graph: GraphDF, partition: DataFrame) -> GraphDF:
    """GraphClusteringTools::communicationGraph (:20-47): node per cluster
    (compacted ids in sorted-label order, matching Partition::compact),
    edge weight = summed weight of INTER-cluster edges; intra-cluster edges
    dropped. One |E| join against the |V| label vector, one keyed agg."""
    from networkit_spark.plans.ranking import dense_rank_of_distinct

    lbls = dense_rank_of_distinct(partition, "label", "cid")
    comp = partition.join(lbls, "label").select("id", "cid")
    cu = comp.select(F.col("id").alias("src"), F.col("cid").alias("cu"))
    cv = comp.select(F.col("id").alias("dst"), F.col("cid").alias("cv"))
    ce = (
        graph.E.join(cu, "src")
        .join(cv, "dst")
        .filter(F.col("cu") != F.col("cv"))
        .select(
            F.least("cu", "cv").alias("src"),
            F.greatest("cu", "cv").alias("dst"),
            "weight" if graph.weighted else F.lit(1.0).alias("weight"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )
    nodes = comp.select(F.col("cid").alias("id")).distinct()
    return GraphDF(nodes, ce, directed=False, weighted=True)


def weighted_degree_with_cluster(
    graph: GraphDF, partition: DataFrame
) -> DataFrame:
    """GraphClusteringTools::weightedDegreeWithCluster (:49-68), fully
    vectorized: (id, cid, wdeg) for every node × incident cluster — the
    weight (or count, unweighted) of u's edges into cluster cid. The
    reference answers one (u, cid) probe per call; the DataFrame form is
    the whole table, which is what PLM-style local moving consumes."""
    cv = partition.select(F.col("id").alias("dst"), F.col("label").alias("cid"))
    w = F.col("weight") if graph.weighted else F.lit(1.0)
    return (
        graph.E_sym.join(cv, "dst")
        .groupBy(F.col("src").alias("id"), "cid")
        .agg(F.sum(w).alias("wdeg"))
    )


def is_proper_clustering(graph: GraphDF, partition: DataFrame) -> bool:
    """GraphClusteringTools::isProperClustering (:70-81): every node has
    exactly one label (anti-join emptiness + a duplicate check)."""
    p = partition.select("id", "label")
    missing = graph.V.join(p, "id", "left_anti").limit(1).count()
    dups = (
        p.groupBy("id").agg(F.count("*").alias("c")).filter("c > 1").limit(1)
        .count()
    )
    return missing == 0 and dups == 0


def is_one_clustering(graph: GraphDF, partition: DataFrame) -> bool:
    """GraphClusteringTools::isOneClustering (:83-94)."""
    return partition.select("label").distinct().count() == 1


def is_singleton_clustering(graph: GraphDF, partition: DataFrame) -> bool:
    """GraphClusteringTools::isSingletonClustering (:95-97)."""
    return (
        partition.select("label").distinct().count() == graph.number_of_nodes()
    )


def equal_clusterings(
    graph: GraphDF, a: DataFrame, b: DataFrame
) -> bool:
    """GraphClusteringTools::equalClusterings (:99-116): the two partitions
    agree on same-cluster membership for every EDGE of G (the reference's
    edge-restricted equality, not full partition equality). One |E| pass
    joined against both label vectors; the mismatch count is a scalar."""
    la = a.select("id", F.col("label").alias("la"))
    lb = b.select("id", F.col("label").alias("lb"))
    lab = la.join(lb, "id")
    u = lab.select(
        F.col("id").alias("src"),
        F.col("la").alias("la_u"),
        F.col("lb").alias("lb_u"),
    )
    v = lab.select(
        F.col("id").alias("dst"),
        F.col("la").alias("la_v"),
        F.col("lb").alias("lb_v"),
    )
    bad = (
        graph.E.join(u, "src")
        .join(v, "dst")
        .filter(
            (F.col("la_u") == F.col("la_v")) != (F.col("lb_u") == F.col("lb_v"))
        )
        .limit(1)
        .count()
    )
    return bad == 0


def modularity_edge_scores(graph: GraphDF) -> DataFrame:
    """ModularityScoring (scoring/ModularityScoring.hpp:63-72):
    Δmod(u,v) = w(u,v)/W − (wdeg(u)/2W)·(wdeg(v)/2W) per edge — the
    modularity increase of merging the two endpoints' singleton clusters.
    One broadcast of the scalar W and two dimension joins on the |V| weighted
    -degree vector; the edge table never shuffles wider than its key."""
    total = graph.E.agg(F.sum("weight").alias("w")).collect()[0]["w"] or 1.0
    wd = graph.weighted_degrees()
    wu = wd.select(F.col("id").alias("src"), F.col("wdeg").alias("wd_u"))
    wv = wd.select(F.col("id").alias("dst"), F.col("wdeg").alias("wd_v"))
    vol = 2.0 * float(total)
    return (
        graph.E.filter("src != dst")
        .join(wu, "src")
        .join(wv, "dst")
        .select(
            "src",
            "dst",
            (
                F.col("weight") / F.lit(float(total))
                - (F.col("wd_u") / vol) * (F.col("wd_v") / vol)
            ).alias("score"),
        )
    )


def parallel_agglomerative_clusterer(
    graph: GraphDF,
    min_communities: int = 2,
    rel_repeat_threshold: float = 5e-3,
    max_levels: int = 32,
) -> DataFrame:
    """ParallelAgglomerativeClusterer (community/
    ParallelAgglomerativeClusterer.cpp:19-85, the PGA clusterer): repeat
    {score edges by singleton-merge modularity gain, compute a maximal
    matching on the scored graph, contract it} until the graph stops
    shrinking meaningfully ((n−cn)/n ≤ 5e-3), then the coarsest nodes ARE
    the clusters, projected back to the finest graph through the mapping
    hierarchy (ClusteringProjector::projectBackToFinest). Exactly the
    reference's loop structure, including discarding the final contraction
    that failed the repeat test.

    The matching stage uses the fully-parallel mutual-best LocalMaxMatcher
    rather than the reference's sequential PathGrowingMatcher
    (ParallelAgglomerativeClusterer.cpp:46 carries a FIXME that the matcher
    is "so far only sequential") — both produce maximal matchings; local-max
    is the distributable one, with a deterministic tie-break so results are
    reproducible. Hierarchy projection is a fold of (id → super_id) joins,
    never a driver-side loop over nodes. Returns (id, label)."""
    from networkit_spark.operators.misc import local_max_matching
    from networkit_spark.plans.checkpoint import stats_safe_checkpoint

    gc = graph
    n = graph.number_of_nodes()
    mapping_total: DataFrame | None = None
    for _ in range(max_levels):
        scored = modularity_edge_scores(gc).select(
            "src", "dst", F.col("score").alias("weight")
        )
        scored_g = GraphDF(gc.V, scored, directed=False, weighted=True)
        matching = local_max_matching(scored_g)
        coarse, mapping = matching_coarsening(gc, matching)
        # the coarse node count fills the cache that the level's vertex
        # checkpoint below reads (stats_safe_checkpoint's protocol, with
        # its count kept); the fine count is the previous level's
        coarse_v = coarse.V.persist()
        cn = coarse_v.count()
        diff = n - cn
        repeat = (
            diff > 0
            and cn >= min_communities
            and diff / n > rel_repeat_threshold
        )
        if not repeat:
            coarse_v.unpersist()
            break  # reference discards the failing contraction (:71-73)
        # accept the level: fold the mapping into the fine→coarsest map and
        # truncate lineage (levels shrink geometrically; the map stays |V|).
        # stats_safe_checkpoint, not a bare localCheckpoint: each level's
        # tables are joins over the previous level's, so Catalyst's
        # multiplied sizeInBytes estimate explodes super-exponentially
        # across levels unless reset to the real cached size at every
        # level boundary (see plans/checkpoint.py).
        if mapping_total is None:
            mapping_total = stats_safe_checkpoint(mapping)
        else:
            step = mapping.select(
                F.col("id").alias("super_id"), F.col("super_id").alias("next_id")
            )
            mapping_total = stats_safe_checkpoint(
                mapping_total.join(step, "super_id")
                .select("id", F.col("next_id").alias("super_id"))
            )
        gc = GraphDF(
            coarse_v.localCheckpoint(eager=True),
            stats_safe_checkpoint(coarse.E),
            directed=False,
            weighted=True,
        )
        coarse_v.unpersist()
        n = cn
    if mapping_total is None:
        # no level accepted — singletons (allToSingletons on the input)
        return graph.V.select("id", F.col("id").alias("label"))
    return mapping_total.select("id", F.col("super_id").alias("label"))


def dynamic_nmi_distance(old_labels: DataFrame, new_labels: DataFrame) -> float:
    """DynamicNMIDistance (community/DynamicNMIDistance.cpp:29-44 isInBoth,
    :47-120 getDissimilarity): NMI dissimilarity between the clustering
    before and after a dynamic update, evaluated over the nodes present in
    BOTH partitions (nodes added/removed by the update are excluded from the
    contingency, exactly the reference's isInBoth filter). Reuses the static
    NMI machinery on the inner-joined node set."""
    common = old_labels.select("id").join(new_labels.select("id"), "id")
    a = old_labels.join(common, "id").select("id", "label")
    b = new_labels.join(common, "id").select("id", "label")
    return nmi_distance(a, b)
