"""Connected components — hash-min label propagation with pointer jumping.

Reference semantics:
  * ParallelConnectedComponents (networkit/cpp/components/ParallelConnectedComponents.cpp:20-95):
    labels init to node id (allToSingletons, :29-30); iterate
    label[u] <- min(label[u], min over neighbors) with an active frontier
    (:49-77); periodic contraction by current labels (:81-94).
  * ConnectedComponents sequential oracle (ConnectedComponents.cpp:27-60):
    BFS in increasing node-id order ⇒ final component id = dense rank of the
    component's minimum node id. We renumber the hash-min fixpoint the same
    way, so ids match the reference EXACTLY.
  * WeaklyConnectedComponents (WeaklyConnectedComponents.cpp:32): same on the
    underlying undirected view of a directed graph.

Spark shape per superstep:
    nbr_min = E_sym ⋈ labels on src → groupBy(dst).agg(min(label))
    labels' = labels ⋈ nbr_min      → least(own, neighbor-min)
plus a POINTER-JUMPING step (labels' = labels' ⋈ labels on label==id) that
makes convergence O(log n) supersteps instead of O(diameter) — essential at
10^12-edge scale where diameters of tens would mean tens of full-edge
shuffles. Labels are always node ids, so the jump is a self-join on the
label table (|V|-sized, far cheaper than an edge shuffle).

The fixpoint loop itself — one aggregate job per superstep that fills the
sweep's cache and counts changed rows, lazy lineage truncation (or Parquet
checkpoints with metrics), cache release — is plans/fixpoint.py, shared
with SCC's struct-max coloring and h-index k-core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from networkit_spark.graph import GraphDF
from networkit_spark.plans.fixpoint import monotone_fixpoint


# Pointer-jump remap threshold (distinct labels): below it the jump's
# shuffled |V|⋈|V| self-join becomes a broadcast remap — see the jump site.
_JUMP_BROADCAST_ROWS = 512_000


def _hash_min_fixpoint(
    edges_sym: DataFrame,
    vertices: DataFrame,
    max_iterations: int = 200,
    pointer_jump: bool = True,
    checkpointer=None,
    broadcast_labels: bool | None = None,
) -> DataFrame:
    """Fixpoint labels (id, label) with label = min node id of the component,
    iterated by plans/fixpoint.py (one aggregate job per sweep).

    `broadcast_labels`: broadcast the |V|-sized label vector into the edge
    join (and the |V|-sized updates into the |V|⋈|V| joins) instead of
    shuffling it — the same measured tradeoff as pagerank's broadcast_rank
    auto-gate in pagerank.py. MEASURED at sf0.1 local[32] (fresh JVM per run,
    1 warmup + 3 trials): broadcast medians 13.5s vs shuffle-join 22.0s,
    and much tighter spread. A win while the vertex state fits an executor;
    the co-partitioned shuffle join stays the 100-TB path. None = auto by
    the same ≤4M-row threshold. Labels are bit-identical either way
    (test_wcc_broadcast_labels_bit_identical).

    In the non-broadcast (big-graph) path, the pointer-jump self-join
    switches to a broadcast remap once the number of DISTINCT labels fits
    under `_JUMP_BROADCAST_ROWS` — see the jump site for why this removes
    the giant-component straggler. The decision uses the PREVIOUS sweep's
    distinct-label count (folded into the convergence agg — zero extra
    jobs; hash-min label sets only shrink, so the lagged count is an upper
    bound and the broadcast never overshoots). Labels are bit-identical
    either way (test_wcc_jump_remap_bit_identical)."""
    labels = vertices.select("id", F.col("id").alias("label"))
    start = 0
    if checkpointer is not None:
        resumed = checkpointer.latest_state()
        if resumed is not None:
            start, labels = resumed["superstep"] + 1, resumed["dfs"]["labels"]
    # hash-partition AND sort by id once (the pagerank.py:94 pattern): the
    # sweep's edge join (e.src == labels.id) and update join
    # (labels.id == nbr_min.dst) then run exchange-free and sort-free on
    # the labels side, and — WHEN the jump takes the broadcast-remap path,
    # which is map-side — the sweep's output inherits hash(id)+sort, the
    # localCheckpoint preserves both, and every subsequent sweep keeps the
    # property: |V| rows cross exactly one exchange per sweep (the
    # nbr_min agg). The shuffled-jump fallback re-keys by label and the
    # property re-establishes at the next update join.
    labels = labels.repartition("id").sortWithinPartitions("id")
    labels = labels.localCheckpoint(eager=True)
    if broadcast_labels is None:
        broadcast_labels = labels.count() <= 4_000_000
    e = (
        edges_sym.select("src", "dst")
        .filter("src != dst")
        .repartition("src")
        .sortWithinPartitions("src")
        .persist()
    )

    def _bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_labels else df

    remap_live = pointer_jump and not broadcast_labels

    # DELTA FRONTIER (the _struct_max_fixpoint pattern, min instead of
    # max): only labels that CHANGED last sweep propagate — monotone-min
    # induction makes every sweep's values bit-identical to the
    # propagate-everything form (a node's current label already dominates
    # every neighbor label propagated earlier, and any change — edge
    # propagation OR pointer jump — re-enters the delta via the carried
    # `old` column). Late sweeps' |E|-sized join outputs collapse to
    # slivers; in broadcast mode the broadcast side shrinks with it.
    def sweep(s) -> DataFrame:
        labels, delta = s.state, s.delta
        nbr_min = (
            e.join(_bc(delta), e.src == delta.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(_bc(nbr_min), labels.id == nbr_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                F.col("label").alias("old"),
            )
        )
        if not pointer_jump:
            return new_labels
        # label[u] <- label[label[u]] : labels are node ids, so this is a
        # |V|-sized self-join — halves the remaining propagation depth.
        # The pre-jump frame feeds BOTH sides of that join; without a
        # persist each side's stage recomputes the whole hash-min join
        # subtree (only its exchanges are reused), so pin it lazily and
        # let the one materializing job fill the cache.
        new_labels = s.pin(new_labels)
        parent = new_labels.select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        if (
            remap_live
            and s.last is not None
            and s.last["nd"] <= _JUMP_BROADCAST_ROWS
        ):
            # The jump join keys on the LABEL VALUE — as components
            # coalesce, most of |V| carries the giant component's label, so
            # the shuffled self-join funnels into one straggler task. The
            # remap table (label -> its current label) has only
            # #distinct-labels rows, which SHRINKS geometrically exactly as
            # that skew grows: restrict `parent` to labels actually
            # referenced (the distinct agg is map-side combinable — the
            # giant label collapses in the combiners, no skew) and
            # broadcast it once it fits, turning the skewed |V|⋈|V|
            # exchange into a map-side hash lookup. MEASURED (uniform
            # 2^22/8, 8 cores): the local straggler is only ~70MB (~1-2s/
            # sweep), so the remap is a WASH at threshold 512k (101.4 vs
            # 100.8s never-remap) and a REGRESSION at 4M (118.7s — early
            # sweeps have millions of distinct labels and the driver-side
            # broadcast build is serial). The threshold stays LOW so the
            # build never dominates; the payoff is the 100-TB tier, where
            # the straggler task at 10^10 vertices is ~250GB while the
            # late-sweep remap is kilobytes. The fits-under-threshold
            # decision uses the PREVIOUS sweep's countDistinct (hash-min
            # only ever REMOVES label values, so the lagged count
            # upper-bounds this sweep's and the broadcast can't overshoot).
            lbls = new_labels.select(F.col("label").alias("p_id")).distinct()
            remap = F.broadcast(parent.join(F.broadcast(lbls), "p_id"))
        else:
            remap = _bc(parent)
        return new_labels.join(
            remap, new_labels.label == remap.p_id, "left"
        ).select("id", F.coalesce("p_label", "label").alias("label"), "old")

    # one agg fills the cache AND yields both the convergence count and the
    # next sweep's remap decision — countDistinct's partial phase collapses
    # the giant label map-side, so the extra column shuffles only
    # per-partition distinct counts
    labels = monotone_fixpoint(
        labels, sweep, "label", max_iterations, start=start,
        aggs=[F.countDistinct("label").alias("nd")] if remap_live else (),
        checkpointer=checkpointer, ckpt_name="labels",
    )
    e.unpersist()
    return labels


def renumber_dense_by_min_id(labels: DataFrame) -> DataFrame:
    """(id,label) → (id,component): component = dense rank of per-component
    min node id, matching the sequential reference's discovery order
    (ConnectedComponents.cpp:27-60). Labels from hash-min already equal the
    component's min id, so this is a dense_rank over the distinct labels —
    computed with the two-stage scale-safe rank (plans/ranking.py), never a
    single-partition global window."""
    from networkit_spark.plans.ranking import dense_rank_of_distinct

    renum = dense_rank_of_distinct(labels, "label", "component")
    return labels.join(renum, "label").select("id", "component")


def connected_components(
    graph: GraphDF, max_iterations: int = 200, checkpointer=None,
    broadcast_labels: bool | None = None,
) -> DataFrame:
    """(id: long, component: long) — exact reference component ids.

    Undirected graphs only, like the reference (ConnectedComponents.cpp:21-24
    throws on directed); use weakly_connected_components for directed.
    """
    if graph.directed:
        raise ValueError(
            "connected_components requires an undirected graph; "
            "use weakly_connected_components (reference throws too, "
            "ConnectedComponents.cpp:21-24)"
        )
    labels = _hash_min_fixpoint(
        graph.E_sym, graph.V, max_iterations, checkpointer=checkpointer,
        broadcast_labels=broadcast_labels,
    )
    return renumber_dense_by_min_id(labels)


def weakly_connected_components(
    graph: GraphDF, max_iterations: int = 200, checkpointer=None,
    broadcast_labels: bool | None = None,
) -> DataFrame:
    """WeaklyConnectedComponents.cpp:32 — hash-min over the symmetrized view
    of a directed edge table. (The sequential engine's merge structure,
    structures/UnionFind.cpp, has no distributed analog — label
    propagation + pointer jumping plays its role here.)"""
    labels = _hash_min_fixpoint(
        graph.E_sym, graph.V, max_iterations, checkpointer=checkpointer,
        broadcast_labels=broadcast_labels,
    )
    return renumber_dense_by_min_id(labels)


def _struct_max_fixpoint(
    edges: DataFrame,
    init_color: DataFrame,
    max_inner: int,
    stats: dict | None = None,
    broadcast_colors: bool = False,
) -> DataFrame:
    """Shared SCC inner loop: struct-max reachability coloring over `edges`
    with pointer jumping via the carrier node, iterated by
    plans/fixpoint.py. `init_color` is (id, c) checkpointed; returns the
    fixpoint (id, c). Counts its sweeps into `stats["sweeps"]`."""
    # broadcast the |V|-sized color state into every sweep join (the
    # measured wcc broadcast_labels pattern, see _hash_min_fixpoint) — the
    # edge join, the update join and the jump join all lose their
    # vertex-side exchange+sort; auto-gated by the caller on active-set
    # size so the co-partitioned shuffle join stays the 100-TB path
    def _bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_colors else df

    # DELTA FRONTIER: only colors that CHANGED last sweep propagate.
    # Monotone-max induction makes this bit-identical per sweep to the
    # propagate-everything form: a node's current color already dominates
    # every neighbor color propagated in earlier sweeps, and any color
    # change (edge propagation OR pointer jump) lands the row back in the
    # delta via the carried `old` column. Late sweeps — where only a
    # sliver of the graph still moves but the full-frontier join output
    # stayed |E|-sized — collapse to near-empty join outputs.
    def sweep(s) -> DataFrame:
        color, delta = s.state, s.delta
        if stats is not None:
            stats["sweeps"] = stats.get("sweeps", 0) + 1
        nbr = (
            edges.join(_bc(delta), edges.src == delta.id)
            .groupBy("dst")
            .agg(F.max("c").alias("nc"))
        )
        new_color = (
            color.join(_bc(nbr), color.id == nbr.dst, "left")
            .select(
                "id",
                F.greatest(F.col("c"), F.coalesce("nc", F.col("c"))).alias("c"),
                F.col("c").alias("old"),
            )
        )
        # NOTE: _hash_min_fixpoint persists the pre-jump frame so the
        # pointer-jump join's two sides share one materialization (-20%
        # there). Measured HERE it REGRESSES (uniform 2^21/8 SCC at 8
        # cores: 163.5s -> 210.3s): the nested fixpoints run many short
        # sweeps on shrinking active sets, where writing the struct-typed
        # color cache every sweep costs more than the duplicated
        # post-exchange work (the exchanges themselves are reused). Keep
        # the recompute (CLAUDE.md rule 15).
        parent = new_color.select(
            F.col("id").alias("p_id"), F.col("c").alias("p_c")
        )
        return new_color.join(
            _bc(parent), new_color.c.getField("n") == parent.p_id, "left"
        ).select(
            "id",
            F.greatest(F.col("c"), F.coalesce("p_c", F.col("c"))).alias("c"),
            "old",
        )

    return monotone_fixpoint(init_color, sweep, "c", max_inner)


def strongly_connected_components(
    graph: GraphDF, max_rounds: int = 100, max_inner: int = 100,
    trim_sweeps: int = 3, local_finish_threshold: int = 100_000,
    stats: dict | None = None, broadcast_colors: bool | None = None,
    fused_fwbw: bool = True,
) -> DataFrame:
    """(id: long, component: long) — SCCs of a DIRECTED graph.

    Reference: StronglyConnectedComponents.cpp:33-140 (iterative Tarjan).
    A DFS stack doesn't distribute; the Spark shape is the random-pivot
    reachability-signature algorithm (Coppersmith–Fleischer–Pinar family),
    every phase a pointer-jumped fixpoint:
      1. color(v)  := max-PRIORITY node reaching v (priorities = per-round
         seeded hashes; struct-max propagation + pointer jumping via the
         carrier node — O(log depth) supersteps).
      2. bcolor(v) := max-priority node reachable from v WITHIN its color
         class (same machinery on reversed same-class edges). The pivot is
         its class's unique priority maximum, so SCC(pivot) = exactly
         {v: color(v) = bcolor(v)} — peeled for ALL classes at once.
      3. CUT every edge whose endpoints differ in (color, bcolor): both
         signatures are constant on an SCC, so cross-cell edges are never
         intra-SCC. The cut is what makes the expected number of peel
         rounds O(log n) (random pivots shatter long chains at their
         priority record-maxima).
    Component ids follow this engine's determinism contract: dense rank of
    the SCC's minimum node id (the reference's Tarjan completion order is
    DFS-dependent; structure matches exactly, ids are renumbered —
    partition-isomorphic, as its own testComparePartitions does).

    `local_finish_threshold`: once the active remnant (nodes + edges,
    after round 0) fits under this row bound, a single collect + driver
    Tarjan replaces all remaining rounds — the tail rounds are pure
    job-launch fixed cost (the Amdahl f-term in BENCH/BASELINE.md), and
    the collected data is O(threshold) by construction. 0 disables
    (pure distributed path; results identical either way since ids are
    renumbered from structure alone).

    `fused_fwbw` (default True): run the forward and backward colorings
    as ONE fixpoint over a side-tagged doubled edge set (id2 = 2·id +
    side; requires nonnegative ids < 2^62) with bc(v) = max-priority node v reaches,
    UNRESTRICTED — peel {fc=bc=x} = SCC(x) exactly. Per-sweep rows
    double but the driver-sequenced job count HALVES (sweeps 14→7
    measured on uniform 2^18/8), attacking the core-count-independent
    f-term directly: fresh-JVM medians 27.8→18.8s at 8 cores and
    29→26.3s at 2 cores, fitted f down ~40%; output bit-identical
    (test_scc_fused_fwbw_bit_identical). False = sequential fwd then
    class-restricted bwd (the r4 shape).

    Each coloring sweep makes ONE pointer jump: more jumps per sweep
    measured no win (uniform 2^18/8: the sweep count stayed the same
    because convergence is edge-propagation-bound, not pointer-depth-bound;
    two or three jumps only added join cost, 24→38/47s at 8 cores).
    """
    if not graph.directed:
        raise ValueError("strongly_connected_components requires a directed graph")
    # Spark's constraint-propagation rewrite chokes on unions of
    # checkpointed per-round label parts ("key not found: id#N" in
    # UnionBase.rewriteConstraints); all joins here are explicit, so the
    # optimization buys nothing — disable it for the duration.
    spark = graph.V.sparkSession
    prev_cp = spark.conf.get("spark.sql.constraintPropagation.enabled", "true")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    try:
        return _scc_impl(
            graph, max_rounds, max_inner, trim_sweeps,
            local_finish_threshold, stats=stats,
            broadcast_colors=broadcast_colors, fused_fwbw=fused_fwbw,
        )
    finally:
        spark.conf.set("spark.sql.constraintPropagation.enabled", prev_cp)


def _tarjan_local(nodes: list[int], edges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Iterative Tarjan over a driver-local remnant; returns (id, label)
    with label = the SCC's min node id. Used ONLY under the bounded
    local-finish threshold — the remnant is O(threshold) rows by
    construction, never the input graph."""
    adj: dict[int, list[int]] = {v: [] for v in nodes}
    for u, v in edges:
        if u in adj and v in adj:
            adj[u].append(v)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    out: list[tuple[int, int]] = []
    counter = 0
    for root in nodes:
        if root in index:
            continue
        # explicit DFS stack of (node, iterator position)
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            nbrs = adj[v]
            while pi < len(nbrs):
                w = nbrs[pi]
                pi += 1
                if w not in index:
                    work[-1] = (v, pi)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                lab = min(comp)
                out.extend((w, lab) for w in comp)
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
    return out


def _scc_impl(
    graph: GraphDF, max_rounds: int, max_inner: int,
    max_trim_sweeps: int = 3, local_finish_threshold: int = 100_000,
    stats: dict | None = None, broadcast_colors: bool | None = None,
    fused_fwbw: bool = False,
) -> DataFrame:
    import time as _time

    def _mark(phase: str, t0: float) -> float:
        if stats is not None:
            stats.setdefault("phases", {})
            stats["phases"][phase] = stats["phases"].get(phase, 0.0) + (
                _time.time() - t0
            )
        return _time.time()
    e_all = (
        graph.E.select("src", "dst").filter("src != dst").distinct()
        .repartition("src").sortWithinPartitions("src").persist()
    )
    n_active_e = e_all.count()
    active_e = e_all
    # Throughout this loop, lineage-truncating localCheckpoints are LAZY
    # wherever a count (or a fixpoint's first sweep) follows immediately:
    # the count job materializes the checkpoint RDD, so each bookkeeping
    # step costs ONE driver-sequenced job instead of two. The nested
    # fixpoints run dozens of short sweeps per round — job launch + AQE
    # planning is the measured core-count-INDEPENDENT f~=82s term in the
    # 2/8-core Amdahl fit (BENCH/BASELINE.md), so halving job count is
    # the lever on scaling efficiency here, not data-plane work.
    active_v = graph.V.select("id").localCheckpoint(eager=False)
    n_active = active_v.count()
    assigned = []  # DataFrames (id, label) with label = SCC pivot id

    spark = graph.V.sparkSession
    for rnd in range(max_rounds):
        if n_active == 0:
            break
        if n_active_e == 0:
            # the cut emptied the active edge set: every remaining node is
            # its own SCC — assign in bulk instead of paying two fixpoint
            # rounds that would peel them one sweep at a time
            assigned.append(active_v.select("id", F.col("id").alias("label")))
            break
        # ---- BOUNDED LOCAL FINISH: after the giant SCC is cut out, the
        # remnant shrinks geometrically but the round structure doesn't —
        # each tail round still pays trim + two nested fixpoints of
        # driver-sequenced job launches on near-empty tables. That fixed
        # cost is the measured core-count-INDEPENDENT f-term capping the
        # 2→8-core efficiency at 0.624 (BENCH/BASELINE.md Amdahl fit).
        # Once the ACTIVE remnant fits the threshold (rows collected are
        # O(threshold) by construction — never the input), one collect +
        # driver Tarjan replaces ALL remaining rounds with a single job.
        # Output-identical: the final renumber (dense rank of per-SCC min
        # id) depends only on the SCC structure, and a pytest pins
        # threshold=0 (pure distributed) against the default path.
        if (
            0 < local_finish_threshold
            and rnd > 0
            and n_active + n_active_e <= local_finish_threshold
        ):
            nodes = [int(r["id"]) for r in active_v.collect()]
            rem_edges = [
                (int(r["src"]), int(r["dst"])) for r in active_e.collect()
            ]
            pairs = _tarjan_local(nodes, rem_edges)
            assigned.append(
                spark.createDataFrame(pairs, "id long, label long")
                if pairs
                else active_v.select("id", F.col("id").alias("label"))
            )
            break
        # ---- 0. TRIM (FW-BW-Trim, Slota–Rajamanickam–Madduri IPDPS'14):
        # a node with no in-edge or no out-edge in the ACTIVE subgraph can
        # sit on no cycle — it is a singleton SCC. Iterated peeling of
        # those is one degree-agg + two semi-joins per sweep (~4 jobs),
        # vs a full CFP round (~2 fixpoints × supersteps × 2 jobs): after
        # the giant SCC is cut out, the DAG-ish remnant mostly collapses
        # under trim instead of burning O(log n) fixed-cost-dominated
        # rounds. BOUNDED per round: full iterated trim is worst-case
        # O(diameter) sweeps (a pure chain peels two endpoints per sweep),
        # and deep chains are exactly what the random-pivot cut shatters
        # in O(log) — so trim runs a few sweeps and hands the rest back.
        # MEASURED (local[16], warm): 262k-node/2M-edge random DAG 58.5s
        # with trim=3 vs 76.7s without (2.2× cold); giant-SCC uniform
        # digraph scale 20 unchanged (77.4 vs 77.6s); cyclic-heavy conv
        # graph ~8% slower (32.3 vs 29.8s) — the DAG win dominates, so
        # the default stays 3 (trim_sweeps=0 disables).
        _t = _time.time()
        trim_sweeps = 0
        while n_active > 0 and n_active_e > 0 and trim_sweeps < max_trim_sweeps:
            trim_sweeps += 1
            both = (
                active_e.select(F.col("src").alias("id"), F.lit(1).alias("o"),
                                F.lit(0).alias("i"))
                .unionByName(
                    active_e.select(F.col("dst").alias("id"),
                                    F.lit(0).alias("o"), F.lit(1).alias("i"))
                )
                .groupBy("id")
                .agg(F.max("o").alias("o"), F.max("i").alias("i"))
                .filter((F.col("o") == 1) & (F.col("i") == 1))
                .select("id")
            )
            keep_v = active_v.join(both, "id", "left_semi").localCheckpoint(
                eager=False
            )
            n_keep = keep_v.count()
            if n_keep == n_active:
                break
            removed = n_active - n_keep
            # lazy: both parents are checkpointed and it is read once in
            # the final union
            assigned.append(
                active_v.join(keep_v, "id", "left_anti")
                .select("id", F.col("id").alias("label"))
            )
            active_v = keep_v
            n_active = n_keep
            if removed * 100 < n_active:
                # LOW-YIELD EXIT: this sweep peeled <1% of the active set —
                # rebuilding + re-counting the edge table (two full-|E|
                # semi-joins) to drop a sliver is the dominant trim cost on
                # giant-SCC inputs (measured 25s of a 155s run at 8 cores
                # removing 0.03% of nodes). Leave active_e STALE: edges
                # incident to just-trimmed nodes join to nothing in the
                # fixpoints (colors only exist for active_v) and the
                # round-end cut drops them anyway — correctness unaffected,
                # only a sliver of dead join probes rides one round.
                break
            active_e = (
                active_e
                .join(keep_v.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(keep_v.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .repartition("src").sortWithinPartitions("src")
                .localCheckpoint(eager=False)
            )
            n_active_e = active_e.count()
        _t = _mark("trim", _t)
        if n_active == 0 or n_active_e == 0:
            if n_active > 0:
                assigned.append(
                    active_v.select("id", F.col("id").alias("label"))
                )
            break
        # auto-broadcast threshold is DELIBERATELY far below wcc's 4M:
        # with the delta frontier the shuffle side of the propagation join
        # is already small after a few sweeps, but the pointer jump's
        # parent side stays 2|V| struct rows — broadcasting it rebuilds a
        # driver-side relation EVERY sweep. MEASURED on uniform 2^21/8 at
        # 8 cores post-delta-frontier: broadcast 150.6s vs shuffle 120.5s
        # medians. Small fixtures (driver queries) still win with it.
        bc = (
            broadcast_colors
            if broadcast_colors is not None
            else n_active <= 512_000
        )
        if fused_fwbw:
            # ---- 1+2 FUSED: forward AND backward max-priority colorings
            # in ONE fixpoint over a side-tagged doubled edge set.
            # fc(v) = max-priority node reaching v; bc(v) = max-priority
            # node v reaches (UNRESTRICTED — no same-class filter). Peel
            # {fc(v)=bc(v)=x} = SCC(x) exactly (x reaches v and v reaches
            # x); the global-priority-max node always peels, and random
            # per-round priorities give the CFP expected O(log n) rounds.
            # Both signatures are constant on an SCC, so the (fc, bc) cell
            # cut below stays sound. The two colorings never interact, so
            # the remap id2 = 2·id + side runs them through the SAME
            # struct-max machinery — per-sweep work doubles (2|E| rows in
            # one job) while the DRIVER-SEQUENCED job count halves vs the
            # sequential fwd-then-bwd rounds: job launch + planning is the
            # core-count-independent Amdahl f-term capping 2→8-core
            # efficiency (BENCH/BASELINE.md), so trading rows-per-job for
            # jobs is exactly the f attack. Priorities hash the ORIGINAL
            # id (both sides agree); the struct tie-break by id2 is
            # side-consistent since edges never cross sides. Requires
            # NONNEGATIVE ids < 2^62 (the doubling and the %2 side
            # split; every reader/generator mints nonnegative ids).
            e2 = (
                active_e.select(
                    (F.col("src") * 2).alias("src"),
                    (F.col("dst") * 2).alias("dst"),
                )
                .unionByName(
                    active_e.select(
                        (F.col("dst") * 2 + 1).alias("src"),
                        (F.col("src") * 2 + 1).alias("dst"),
                    )
                )
                .repartition("src").sortWithinPartitions("src")
                .localCheckpoint(eager=False)
            )
            init2 = (
                active_v.select(
                    (F.col("id") * 2).alias("id"),
                    F.struct(
                        F.xxhash64("id", F.lit(77), F.lit(rnd)).alias("p"),
                        (F.col("id") * 2).alias("n"),
                    ).alias("c"),
                )
                .unionByName(
                    active_v.select(
                        (F.col("id") * 2 + 1).alias("id"),
                        F.struct(
                            F.xxhash64("id", F.lit(77), F.lit(rnd)).alias("p"),
                            (F.col("id") * 2 + 1).alias("n"),
                        ).alias("c"),
                    )
                )
                .localCheckpoint(eager=False)
            )
            both = _struct_max_fixpoint(
                e2, init2, max_inner, stats=stats, broadcast_colors=bc,
            )
            _t = _mark("fwd", _t)
            fc = both.filter(F.col("id") % 2 == 0).select(
                F.shiftright("id", 1).alias("id"),
                F.shiftright(F.col("c").getField("n"), 1).alias("color"),
            )
            bcol = both.filter(F.col("id") % 2 == 1).select(
                F.shiftright("id", 1).alias("id"),
                F.shiftright(F.col("c").getField("n"), 1).alias("bcolor"),
            )
            # lazy: the remaining.count() below materializes it
            cells = fc.join(bcol, "id").localCheckpoint(eager=False)
        else:
            # ---- 1. forward MAX-PRIORITY coloring with pointer jumping.
            # Priorities are per-round seeded hashes, NOT raw ids: with raw
            # ids a monotone chain (the shape of temporal conv graphs) peels
            # one pivot per round — O(depth) rounds. Random priorities split
            # every chain at its priority record-maxima, giving O(log n)
            # expected rounds (the Coppersmith–Fleischer–Pinar random-pivot
            # argument). The color is a (priority, node) struct so pointer
            # jumping can follow the carrier node. The SAME checkpointed
            # init seeds both the forward and the backward fixpoint
            # (identical by definition).
            init = active_v.select(
                "id",
                F.struct(
                    F.xxhash64("id", F.lit(77), F.lit(rnd)).alias("p"),
                    F.col("id").alias("n"),
                ).alias("c"),
                # lazy: the forward fixpoint's first sweep materializes it;
                # the backward fixpoint then reads the same checkpoint
                # storage
            ).localCheckpoint(eager=False)
            color = _struct_max_fixpoint(
                active_e, init, max_inner, stats=stats, broadcast_colors=bc,
            )
            _t = _mark("fwd", _t)
            color = color.select("id", F.col("c").getField("n").alias("color"))
            # ---- 2. backward containment as a SECOND coloring fixpoint.
            # Every class member has strictly lower priority than its pivot
            # (color(w)=c requires (p(c),c) > (p(w),w)), so within a class
            # the pivot is the unique max-priority node; bcolor(v) =
            # max-priority node REACHABLE from v within the class therefore
            # equals the pivot IFF v reaches it. Same struct-max +
            # pointer-jump machinery over the REVERSED same-class edges —
            # O(log depth) supersteps, not the O(depth) level BFS this used
            # to be. The reversed table is re-partitioned + sorted on its
            # join key BEFORE the checkpoint so every inner superstep's SMJ
            # skips exchange AND sort on the edge side (LogicalRDD
            # preserves partitioning/ordering).
            c_src = color.select(
                F.col("id").alias("src"), F.col("color").alias("c_src")
            )
            c_dst = color.select(
                F.col("id").alias("dst"), F.col("color").alias("c_dst")
            )
            e_rev = (
                active_e.join(c_src, "src").join(c_dst, "dst")
                .filter(F.col("c_src") == F.col("c_dst"))
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                .repartition("src").sortWithinPartitions("src")
                .localCheckpoint(eager=False)
            )
            bcolor = _struct_max_fixpoint(
                e_rev, init, max_inner, stats=stats, broadcast_colors=bc,
            )
            _t = _mark("bwd", _t)
            bcolor = bcolor.select(
                "id", F.col("c").getField("n").alias("bcolor")
            )
            # lazy: the remaining.count() below materializes it; scc/cs/cd
            # then read the same checkpoint storage
            cells = color.join(bcolor, "id").localCheckpoint(eager=False)
        # scc / active_v are cheap projections of the checkpointed `cells` —
        # no extra checkpoints or anti-joins needed (assigned ⟺ color==bcolor)
        scc = cells.filter(F.col("color") == F.col("bcolor")).select(
            "id", F.col("color").alias("label")
        )
        assigned.append(scc)
        remaining = cells.filter(F.col("color") != F.col("bcolor"))
        n_active = remaining.count()
        active_v = remaining.select("id")
        if n_active == 0:
            break
        # ---- 3. peel + CUT: no SCC spans two (color, bcolor) cells (both
        # signatures are constant on an SCC), so cross-cell edges can never
        # be intra-SCC — dropping them is the CFP recursion step that makes
        # the expected round count logarithmic. Without the cut, one giant
        # reachability class re-forms every round and progress is O(1)
        # pivots/round. A same-cell edge with color != bcolor has BOTH
        # endpoints unassigned (assigned ⟺ color==bcolor and the signatures
        # agree across the edge), so the f_s != b_s clause subsumes the two
        # active_v semi-joins the old plan paid for.
        cs = cells.select(
            F.col("id").alias("src"),
            F.col("color").alias("f_s"),
            F.col("bcolor").alias("b_s"),
        )
        cd = cells.select(
            F.col("id").alias("dst"),
            F.col("color").alias("f_d"),
            F.col("bcolor").alias("b_d"),
        )
        active_e = (
            active_e.join(cs, "src")
            .join(cd, "dst")
            .filter(
                (F.col("f_s") == F.col("f_d"))
                & (F.col("b_s") == F.col("b_d"))
                & (F.col("f_s") != F.col("b_s"))
            )
            .select("src", "dst")
            .repartition("src").sortWithinPartitions("src")
            .localCheckpoint(eager=False)
        )
        n_active_e = active_e.count()
        _mark("cut", _t)
        if stats is not None:
            stats["rounds"] = rnd + 1
    e_all.unpersist()
    if not assigned:
        return graph.V.select(
            "id", F.lit(0).cast("long").alias("component")
        ).limit(0)
    labels = assigned[0]
    for p in assigned[1:]:
        labels = labels.unionByName(p)
    # label = pivot (max id of SCC); renumber by per-SCC MIN id for the
    # deterministic contract shared with connected_components
    # truncate the multi-round union lineage before the window renumber
    # (Spark's Union constraint rewrite chokes on deep mixed-origin unions)
    labels = labels.localCheckpoint(eager=True)
    min_id = labels.groupBy("label").agg(F.min("id").alias("mlabel"))
    relabeled = labels.join(min_id, "label").select(
        "id", F.col("mlabel").alias("label")
    )
    # materialize before the config guard in strongly_connected_components
    # restores constraint propagation (the plan must not be re-analyzed
    # lazily outside the guarded region)
    return renumber_dense_by_min_id(relabeled).localCheckpoint(eager=True)


def extract_largest_connected_component(
    graph: GraphDF, compact: bool = True
) -> GraphDF:
    """ConnectedComponents::extractLargestConnectedComponent
    (ConnectedComponents.cpp:83-131): subgraph of the biggest component;
    compact=True renumbers ids order-preservingly (GraphTools.cpp:392-400)."""
    comp = connected_components(graph)
    sizes = comp.groupBy("component").agg(F.count("*").alias("sz"))
    # deterministic tie-break: smallest component id among the largest
    top = (
        sizes.orderBy(F.desc("sz"), F.asc("component")).limit(1)
        .select("component")
    )
    nodes = comp.join(F.broadcast(top), "component").select("id")
    sub = graph.subgraph_from_nodes(nodes)
    if compact:
        sub, _ = sub.compact_node_ids()
    return sub


def number_of_components(components: DataFrame) -> int:
    return components.select("component").distinct().count()
