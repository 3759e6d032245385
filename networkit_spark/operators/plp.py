"""PLP — synchronous label propagation community detection.

Reference: networkit/cpp/community/PLP.cpp:22-114 —
  * labels init singleton = node id (:28-32)
  * each sweep, every non-isolated (active) node adopts the label with the
    MAXIMUM summed incident edge weight among its neighbors; ties break to
    the SMALLEST label id (std::max_element over an ordered std::map,
    :77-89)
  * stop when nUpdated <= updateThreshold (default n/1e5) or maxIterations
    (:66); per-sweep timings recorded (:108-109) — we persist the analogous
    superstep metrics via the checkpointer.

The reference's sweeps are parallel-asynchronous (in-place label reads,
PLP.cpp:74) and therefore nondeterministic. Per the north rule this engine
fixes SYNCHRONOUS semantics — every node reads the previous sweep's labels —
with the same (max weight, min label) tie-break, so labels are exactly
reproducible and SQL-oracle-checkable.

Spark shape per sweep:
    cand   = E_sym ⋈ labels on src → (dst, label, weight)
    scores = cand.groupBy(dst, label).agg(sum(weight))
    winner = min (-w, label) struct per dst — max weight, min label, as one
             map-side-combinable aggregation (no window sort stage)
    labels'= V left⋈ winner (isolated nodes keep their singleton label)
The frontier optimization (only recompute nodes with a changed neighbor)
is work-skipping only — synchronous results are identical with or without
it, which the tests assert.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from networkit_spark.graph import GraphDF

# active frontiers up to this many nodes are broadcast into the edge join
_BROADCAST_FRONTIER_ROWS = 1_000_000


def plp(
    graph: GraphDF,
    update_threshold: int | None = None,
    max_iterations: int | None = None,
    checkpointer=None,
    use_frontier: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Returns (id: long, label: long).

    `stats`: optional dict — filled with "edges" (symmetrized edge count)
    and "iter_secs" (per-sweep wall seconds), the same steady-state bench
    hook as pagerank_fixed's (first sweeps pay codegen + cache build).

    `use_frontier`: maintain the active set (nodes with ≥1 changed neighbor
    last sweep) and recompute only those — the PLP.cpp:91-99 reactivation
    rule. When the frontier is small it is broadcast into the edge join
    (north rule: broadcast of high-degree frontier deltas).

    Every sweep materializes its labels with an eager checkpoint (Parquet
    with a checkpointer). The label vector and the winner table are joined
    by shuffle, not broadcast: broadcasting them MEASURED a regression at
    sf0.1 local[32] (fresh JVM, 1 warmup + 3 trials: 17.0s vs 14.7s
    medians, unlike wcc and pagerank) because PLP's cost sits in the
    (dst,label) score aggregation whose map-side partials shuffle either
    way, so the broadcast only adds the serial per-sweep build. Fusing
    sweeps per materialization measured slower too (CLAUDE.md rule 10).
    """
    n = graph.number_of_nodes()
    if update_threshold is None:
        update_threshold = max(1, int(n / 1e5))  # PLP.cpp default none→n/1e5
    max_it = max_iterations if max_iterations is not None else 10**9

    e = graph.E_sym.select("src", "dst", "weight")
    # partitioned+sorted cache: supersteps join on src with no re-sort
    e = e.repartition("src").sortWithinPartitions("src").persist()
    m = e.count()
    if stats is not None:
        stats["edges"] = m
        stats.setdefault("iter_secs", [])

    # hash-partition + sort the label vector by id ONCE: the per-sweep
    # labels⋈winner join emits its output hash(id)-partitioned/id-sorted,
    # localCheckpoint preserves both, and the next sweep's edge join
    # (src == id) and winner join both run exchange-free and sort-free on
    # the label side — the same single-exchange superstep shape as
    # pagerank (pagerank.py:95-105); labels are bit-identical.
    labels = (
        graph.V.select("id", F.col("id").alias("label"))
        .repartition("id")
        .sortWithinPartitions("id")
    )
    start = 0
    if checkpointer is not None:
        resumed = checkpointer.latest_state()
        if resumed is not None:
            start, labels = resumed["superstep"] + 1, resumed["dfs"]["labels"]
    labels = labels.localCheckpoint(eager=True)

    frontier = None  # None = all nodes active
    it = start
    while it < max_it:
        t0 = time.time()
        # candidate sweep: restrict to nodes whose neighborhood changed
        if use_frontier and frontier is not None:
            fcount = frontier.count()
            if fcount == 0:
                break
            f = frontier
            if fcount <= _BROADCAST_FRONTIER_ROWS:
                f = F.broadcast(f)
            active_edges = e.join(
                f.withColumnRenamed("id", "dst"), "dst", "left_semi"
            )
        else:
            active_edges = e

        cand = active_edges.join(labels, active_edges.src == labels.id).select(
            "dst", "label", "weight"
        )
        scores = cand.groupBy("dst", "label").agg(F.sum("weight").alias("w"))
        # winner = max weight, min label tie-break — as ONE aggregation:
        # min over lexicographic (-w, label) structs. Same exchange count
        # as a window but no per-partition sort stage, and the (dst,label)
        # → (dst) agg is map-side combinable.
        winner = (
            scores.groupBy("dst")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("w")).alias("nw"), F.col("label").alias("label")
                    )
                ).alias("top")
            )
            .select(F.col("dst").alias("id"), F.col("top.label").alias("new_label"))
        )
        # one joined frame carries the new label AND the changed flag — a
        # single action materializes both
        joined = (
            labels.join(winner, "id", "left")
            .select(
                "id",
                F.coalesce("new_label", "label").alias("new"),
                (F.coalesce("new_label", "label") != F.col("label")).alias("chg"),
            )
        )
        need_count = (update_threshold >= 0) or use_frontier or (
            checkpointer is not None
        )
        n_updated = -1
        if need_count:
            # persist FIRST, count the chg column from cache — the label
            # projection, frontier, and checkpoint below all read this one
            # materialization (direct eager checkpoints on multi-consumer
            # iterative pipelines re-execute geometrically; see
            # components._struct_max_fixpoint)
            joined = joined.persist()
            n_updated = joined.filter("chg").count()
        new_labels = joined.select("id", F.col("new").alias("label"))

        if checkpointer is not None:
            new_labels = checkpointer.save(
                it,
                {"labels": new_labels},
                metrics={
                    "n_updated": n_updated,
                    "delta_norm": float(n_updated),
                    "wall_ms": int((time.time() - t0) * 1000),
                },
            )["labels"]
        else:
            # a counted sweep's checkpoint reads the joined cache
            new_labels = new_labels.localCheckpoint(eager=True)

        if use_frontier:
            # reactivation (PLP.cpp:91-99): neighbors of changed nodes
            changed = joined.filter("chg").select("id")
            frontier = (
                e.join(
                    changed.withColumnRenamed("id", "src"), "src", "left_semi"
                )
                .select(F.col("dst").alias("id"))
                .distinct()
                .localCheckpoint(eager=True)
            )
        if need_count:
            joined.unpersist()
        if stats is not None:
            stats["iter_secs"].append(time.time() - t0)
        labels = new_labels
        it += 1
        if 0 <= n_updated <= update_threshold:
            break

    e.unpersist()
    return labels


def plp_fixed(
    graph: GraphDF, iterations: int, stats: dict | None = None,
) -> DataFrame:
    """Exactly `iterations` synchronous sweeps, full recompute — the
    SQL-oracle-parity variant (DuckDB unrolls the same sweeps)."""
    return plp(
        graph,
        update_threshold=-1,
        max_iterations=iterations,
        use_frontier=False,
        stats=stats,
    )


def compact_partition(labels: DataFrame) -> DataFrame:
    """Partition::compact non-turbo semantics (Partition.cpp:69-95): new id =
    rank of old label in sorted old-label order — two-stage scale-safe rank
    (plans/ranking.py), never a single-partition global window."""
    from networkit_spark.plans.ranking import dense_rank_of_distinct

    renum = dense_rank_of_distinct(labels, "label", "new_label")
    return labels.join(renum, "label").select(
        "id", F.col("new_label").alias("label")
    )


def lp_degree_ordered(
    graph: GraphDF, sweeps: int = 4, n_buckets: int = 4
) -> DataFrame:
    """LPDegreeOrdered (community/LPDegreeOrdered.cpp): label propagation
    visiting nodes in INCREASING degree order. The reference's ordered
    visit is asynchronous (and thread-nondeterministic); the deterministic
    distributed analog is degree-STRATIFIED waves: each sweep processes
    `n_buckets` degree quantiles low→high, and bucket k reads the labels
    already updated by buckets < k in the same sweep — same low-degree-
    first information flow, exactly reproducible. Returns (id, label)."""
    from networkit_spark.plans.ranking import global_row_numbers

    e = graph.E_sym.select("src", "dst", "weight")
    e = e.repartition("src").sortWithinPartitions("src").persist()
    e.count()
    n = graph.number_of_nodes()
    deg = graph.degrees()
    ranked = global_row_numbers(
        deg.select(F.col("degree").alias("d"), "id"), ["d", "id"], out_col="rk"
    ).select(
        "id", (F.col("rk") * n_buckets / F.lit(max(n, 1))).cast("int").alias("bucket")
    ).localCheckpoint(eager=True)

    labels = graph.V.select("id", F.col("id").alias("label")).localCheckpoint(
        eager=True
    )
    for _ in range(sweeps):
        for b in range(n_buckets):
            active = ranked.filter(F.col("bucket") == b).select("id")
            cand = e.join(labels, e.src == labels.id).select(
                "dst", "label", "weight"
            )
            scores = cand.groupBy("dst", "label").agg(F.sum("weight").alias("w"))
            winner = (
                scores.groupBy("dst")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("w")).alias("nw"),
                            F.col("label").alias("label"),
                        )
                    ).alias("top")
                )
                .select(
                    F.col("dst").alias("id"),
                    F.col("top.label").alias("new_label"),
                )
                .join(active, "id", "left_semi")
            )
            labels = (
                labels.join(winner, "id", "left")
                .select("id", F.coalesce("new_label", "label").alias("label"))
                .localCheckpoint(eager=True)
            )
    e.unpersist()
    return labels
