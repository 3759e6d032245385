"""Power-iteration PageRank with NetworKit reference semantics.

Reference: networkit/cpp/centrality/PageRank.cpp:19-81 —
  * init score[u] = 1/n                                     (:22-25)
  * pr[u] = (1-d)/n + d * Σ_{(v→u)∈E} score[v]·w(v,u)/wdeg_out(v)   (:55-65)
    (sums over INCOMING edges; undirected graphs sum over neighbors)
  * dangling nodes (wdeg_out == 0) contribute nothing: their mass is
    DROPPED each iteration, not redistributed                (:55-65)
  * stop when iterations >= maxIterations or ||pr - score||_norm <= tol
    (L2 default, L1 option; PageRank.hpp:62-65, PageRank.cpp:40-50)
  * final global renormalize score[u] /= Σ score             (:74-78)

Spark shape per superstep (the "join–multiply–aggregate" of SURVEY §1.3):
    contrib = E' ⋈ rank on src  →  groupBy(dst).agg(sum(frac·score))
    rank'   = V left⋈ contrib   →  (1-d)/n + d·mass
E' = edges with precomputed frac = weight/wdeg_out(src), built ONCE and
cached/persisted — the loop only reshuffles the rank vector, never
recomputes degrees. groupBy(dst) gets map-side partial aggregation from
Catalyst, which is what absorbs hub-vertex in-degree skew (a mega-hub's
incoming mass is combined per-partition before the shuffle); an explicit
salt stage is available for pathological cases.

Lineage is truncated every superstep via localCheckpoint (or a
Parquet/Iceberg checkpointer with metrics + resume, see plans/checkpoint.py)
— without this the plan tree grows linearly with iterations.
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from networkit_spark.graph import GraphDF


def _edges_with_frac(graph: GraphDF) -> DataFrame:
    """Propagation edges (src, dst, frac) with frac = w(src,dst)/wdeg_out(src).

    For undirected graphs, neighbors both ways (E_sym); wdeg is the full
    weighted degree. Dangling nodes simply have no rows here — that IS the
    dropped-mass semantic.
    """
    e = graph.E if graph.directed else graph.E_sym
    wdeg = e.groupBy("src").agg(F.sum("weight").alias("wdeg"))
    return (
        e.join(wdeg, "src")
        .select("src", "dst", (F.col("weight") / F.col("wdeg")).alias("frac"))
    )


def pagerank(
    graph: GraphDF,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iterations: int | None = None,
    norm: str = "l2",
    checkpointer=None,
    salt_buckets: int = 0,
    broadcast_rank: bool | None = None,
    stats: dict | None = None,
    init_scores: DataFrame | None = None,
) -> DataFrame:
    """Returns (id: long, score: double), scores summing to 1.

    `checkpointer`: optional plans.checkpoint.SuperstepCheckpointer — persists
    rank state + iteration metrics per superstep and enables resume.
    `salt_buckets` > 0 adds an explicit two-stage (salted) aggregation on dst
    for single-mega-hub skew beyond what map-side combine handles.
    `broadcast_rank`: broadcast the |V|-sized rank vector into the edge join
    so the (static, cached) edge table is never reshuffled — the right plan
    whenever the vertex state fits in executor memory (auto: n ≤ 4M). At
    larger |V| the fallback is the co-partitioned shuffle join, where only
    |V| rows move per superstep against pre-partitioned edges.
    `stats`: optional dict, filled with {'iter_secs': [...], 'edges': m} —
    per-superstep wall times for throughput benches.
    `init_scores`: optional (id, score) start vector (DynPageRank warm
    start) — projected onto V and renormalized; the fixpoint is unchanged.

    Every superstep truncates lineage with an eager checkpoint (Parquet
    with a checkpointer). Fusing several supersteps per materialization
    measured slower at sf0.1 local[32] (two per block: 29.3 vs 24.7s
    medians — intra-block re-references recompute and deeper plans cost
    more than the saved job launches), so there is no cadence option.
    """
    spark = graph.V.sparkSession
    # pin the vertex set: V's lineage may be an arbitrarily deep derivation
    # (e.g. the transcript pipeline) and is referenced every superstep.
    # Hash-partition AND sort it by id, like the edge table below: the
    # superstep's rank update (v/rank ⋈ mass) then emits its output
    # hash(id)-partitioned and id-sorted, localCheckpoint preserves both,
    # and the NEXT superstep's edge join (edges.src == rank.id) needs no
    # exchange and no sort on the rank side either — the whole superstep
    # moves |V| rows through exactly ONE exchange (the mass groupBy(dst)),
    # instead of re-exchanging v/rank on every join.
    v = graph.V.select("id").repartition("id").sortWithinPartitions("id").persist()
    n = v.count()
    if n == 0:
        return graph.V.withColumn("score", F.lit(0.0))

    # hash-partition AND sort the static edge table by the join key once:
    # the cached plan then carries outputPartitioning=hash(src) and
    # outputOrdering=src, so every superstep's sort-merge join needs no
    # exchange and no sort on the |E|-sized side — only the |V|-sized rank
    # vector is shuffled per superstep (the bucketed-join pattern, without
    # a metastore)
    edges = _edges_with_frac(graph)
    edges = edges.repartition("src").sortWithinPartitions("src").persist()
    m = edges.count()  # materialize once; loop never recomputes degrees
    if broadcast_rank is None:
        # MEASURED at sf0.1 local[32] (586k vertices, 20 supersteps, fresh
        # JVM per run, 1 warmup + 3 trials): broadcast medians 17.5s vs
        # shuffle-join 23.4s (-25%, and tighter spread — the feared
        # per-superstep broadcast-rebuild GC spikes did not materialize).
        # Auto-broadcast while the vertex state fits comfortably in an
        # executor (~4M rows ≈ 64MB); beyond that the co-partitioned
        # shuffle join is the scale path (only |V| rows move per superstep
        # against the pre-partitioned sorted edge cache).
        broadcast_rank = n <= 4_000_000
    if stats is not None:
        stats["edges"] = m
        stats.setdefault("iter_secs", [])

    teleport = (1.0 - damping) / n
    start_iter = 0
    rank = None
    if checkpointer is not None:
        resumed = checkpointer.latest_state()
        if resumed is not None:
            start_iter, rank = resumed["superstep"] + 1, resumed["dfs"]["rank"]
    if rank is None and init_scores is not None:
        # warm start (DynPageRank): the previous score vector, projected
        # onto the current vertex set (new nodes enter at the uniform
        # mass) and renormalized to sum 1 — the fixpoint is init-invariant,
        # so after a small graph delta the iteration starts next to the
        # new fixpoint and converges in O(1) supersteps
        ini = v.join(
            init_scores.select("id", F.col("score").alias("s0")), "id", "left"
        ).select("id", F.coalesce("s0", F.lit(1.0 / n)).alias("s0"))
        tot = ini.agg(F.sum("s0")).collect()[0][0]  # scalar aggregate
        rank = ini.select(
            "id", (F.col("s0") / F.lit(float(tot))).alias("score")
        ).localCheckpoint(eager=True)
    if rank is None:
        rank = v.select("id", F.lit(1.0 / n).alias("score"))
        rank = rank.localCheckpoint(eager=True)

    max_it = max_iterations if max_iterations is not None else 10**9
    it = start_iter
    while it < max_it:
        t0 = time.time()
        rank_j = F.broadcast(rank) if broadcast_rank else rank
        contrib = edges.join(rank_j, edges.src == rank_j.id).select(
            "dst", (F.col("frac") * F.col("score")).alias("mass")
        )
        if salt_buckets > 1:
            # two-stage agg: pre-combine per (dst, salt) then final per dst
            contrib = (
                contrib.withColumn(
                    "salt", F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
                )
                .groupBy("dst", "salt")
                .agg(F.sum("mass").alias("mass"))
            )
        mass = contrib.groupBy("dst").agg(F.sum("mass").alias("mass"))
        if broadcast_rank:
            mass = F.broadcast(mass)
        if tol >= 0:
            # tol mode: join the PREVIOUS rank (same id set as v) so the old
            # score rides along — the convergence norm below is then a
            # cheap scan of the checkpointed rows, not a |V|⋈|V| join
            new_rank = (
                rank.join(mass, rank.id == mass.dst, "left")
                .select(
                    "id",
                    (
                        F.lit(teleport)
                        + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                    ).alias("score"),
                    F.col("score").alias("old_score"),
                )
            )
        else:
            new_rank = (
                v.join(mass, v.id == mass.dst, "left")
                .select(
                    "id",
                    (
                        F.lit(teleport)
                        + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                    ).alias("score"),
                )
            )

        # materialize the new rank vector FIRST (truncating lineage — rank
        # is referenced twice per superstep, so an untruncated plan doubles
        # every iteration), then compute the convergence norm from the two
        # materialized vectors (PageRank.cpp:33-50). In fixed-iteration mode
        # (tol < 0) the delta job is skipped entirely.
        if checkpointer is not None:
            # keep the 3-col local frame for the delta scan below; the
            # saved 2-col frame becomes next superstep's rank
            saved_rank = checkpointer.save(
                it, {"rank": new_rank.select("id", "score")}, metrics=None
            )["rank"]
        if checkpointer is None or tol >= 0:
            new_rank = new_rank.localCheckpoint(eager=True)

        delta = float("inf")
        if tol >= 0:
            diff = F.col("score") - F.col("old_score")
            d_expr = diff * diff if norm == "l2" else F.abs(diff)
            agg = new_rank.agg(F.sum(d_expr).alias("d")).collect()[0]
            delta = math.sqrt(agg["d"]) if norm == "l2" else agg["d"]
        if checkpointer is not None:
            checkpointer.log_metrics(
                it,
                {
                    "n_updated": n,
                    "delta_norm": float(delta) if delta != float("inf") else -1.0,
                    "wall_ms": int((time.time() - t0) * 1000),
                },
            )
        if stats is not None:
            stats["iter_secs"].append(time.time() - t0)
        if checkpointer is not None:
            rank = saved_rank
        elif tol >= 0:
            # trim the carried old_score: only (id, score) moves next sweep
            rank = new_rank.select("id", "score")
        else:
            rank = new_rank
        it += 1
        if delta <= tol:
            break

    total = rank.agg(F.sum("score").alias("s")).collect()[0]["s"]
    edges.unpersist()
    v.unpersist()
    return rank.select("id", (F.col("score") / F.lit(total)).alias("score"))


def pagerank_fixed(
    graph: GraphDF, damping: float = 0.85, iterations: int = 15, **kw
) -> DataFrame:
    """Exactly `iterations` supersteps, no convergence action — the
    SQL-oracle-parity variant (the DuckDB oracle unrolls the same number of
    CTE iterations). Semantics otherwise identical to pagerank()."""
    return pagerank(
        graph, damping=damping, tol=-1.0, max_iterations=iterations, **kw
    )


def pagerank_csr(
    graph: GraphDF,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iterations: int | None = None,
    num_blocks: int | None = None,
) -> DataFrame:
    """Arrow fast path: per-partition CSR gather-scatter via applyInPandas.

    Edges are hash-partitioned by dst-block; each block receives the full
    rank vector slice it needs via a pre-join, then a numpy
    `np.add.at(out, dst_local, frac*score)` scatter replaces the row-level
    shuffle aggregation. Semantically identical to pagerank() (property-
    tested); physically it collapses the groupBy into a vectorized kernel.

    This is the physical fast path of SURVEY §4 ("CSR blocks per partition");
    at 100 TB the edge blocks are static and cached while only the rank
    vector moves.
    """
    import pandas as pd  # noqa: F401

    spark = graph.V.sparkSession
    v = graph.V.select("id").persist()
    n = v.count()
    if n == 0:
        return graph.V.withColumn("score", F.lit(0.0))
    if num_blocks is None:
        num_blocks = max(2, spark.sparkContext.defaultParallelism)

    edges = (
        _edges_with_frac(graph)
        .withColumn("blk", F.pmod(F.col("dst"), F.lit(num_blocks)))
        .persist()
    )
    edges.count()
    teleport = (1.0 - damping) / n
    rank = v.select("id", F.lit(1.0 / n).alias("score"))
    rank = rank.localCheckpoint(eager=True)

    out_schema = T.StructType(
        [
            T.StructField("dst", T.LongType()),
            T.StructField("mass", T.DoubleType()),
        ]
    )

    def scatter(pdf):
        import numpy as np

        dst = pdf["dst"].to_numpy()
        contrib = (pdf["frac"] * pdf["score"]).to_numpy()
        # local CSR-style scatter: dense over the block's dst universe
        uniq, inv = np.unique(dst, return_inverse=True)
        out = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(out, inv, contrib)
        return pd.DataFrame({"dst": uniq, "mass": out})

    import pandas as pd

    max_it = max_iterations if max_iterations is not None else 10**9
    it = 0
    while it < max_it:
        joined = edges.join(rank, edges.src == rank.id).select(
            "blk", "dst", "frac", "score"
        )
        mass = joined.groupBy("blk").applyInPandas(scatter, out_schema)
        new_rank = (
            v.join(mass, v.id == mass.dst, "left")
            .select(
                "id",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("score"),
            )
        )
        j = (
            new_rank.join(rank.select("id", F.col("score").alias("old")), "id")
            .select("id", "score", ((F.col("score") - F.col("old")) ** 2).alias("d"))
            .persist()
        )
        delta = math.sqrt(j.agg(F.sum("d")).collect()[0][0])
        new_rank = j.select("id", "score").localCheckpoint(eager=True)
        j.unpersist()
        rank = new_rank
        it += 1
        if delta <= tol:
            break

    total = rank.agg(F.sum("score")).collect()[0][0]
    edges.unpersist()
    v.unpersist()
    return rank.select("id", (F.col("score") / F.lit(total)).alias("score"))
