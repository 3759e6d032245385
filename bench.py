"""Benchmark harness — run the headline kernels at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "throughput": {...},
   "trials": {name: [sec, ...]}, "trials_per_kernel": N}

Per-kernel numbers are the MEDIAN of $BENCH_TRIALS (default 3) in-JVM
repeats — the one-JVM sequential protocol swings ±24-46% per kernel
(BENCH/HEADLINE.md records three full runs), so a single sample reads as
a regression/win when the code didn't change; the median is stable and
the raw samples are published alongside (VERDICT r4 #8).

The primary reference metric (BASELINE.md) is edges/sec per PageRank
superstep; reported under "throughput" alongside per-kernel edge counts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def build_spark():
    from networkit_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return get_spark(
        master=f"local[{cpus}]",
        app_name="networkit-spark-bench",
        shuffle_partitions=max(16, int(cpus) if cpus.isdigit() else 32),
    )


def conv_graph(spark, n_convs=30000):
    """Sparse conv→conv adjacency graph from synthetic transcripts; node id
    = conv index (direct integer parse — no global window needed)."""
    from networkit_spark.sources.transcripts import (
        conv_adjacency_edges,
        synthesize_transcripts,
    )
    from networkit_spark.graph import GraphDF

    t = synthesize_transcripts(spark, n_convs)
    e = conv_adjacency_edges(t)
    edges = e.select(
        F.substring("src_conv", 6, 6).cast("long").alias("src"),
        F.substring("dst_conv", 6, 6).cast("long").alias("dst"),
        "weight",
    )
    return GraphDF.from_edges(edges, directed=True, weighted=True)


def per_sec(amount: float, secs: float | None) -> float | None:
    """amount/secs rounded; None when the kernel was filtered out or its
    median is 0.0 s (too fast for the clock — no rate to report)."""
    if not secs:
        return None
    return round(amount / secs, 1)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    pr_iters = int(os.environ.get("BENCH_PR_ITERS", "20"))
    n_trials = max(1, int(os.environ.get("BENCH_TRIALS", "3")))
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from networkit_spark.graph import GraphDF  # noqa: F401
    from networkit_spark.operators.components import weakly_connected_components
    from networkit_spark.operators.pagerank import pagerank_fixed
    from networkit_spark.operators.plp import plp_fixed
    from networkit_spark.operators.triangles import triangle_counts

    from networkit_spark.operators.betweenness import estimate_betweenness
    from networkit_spark.operators.components import strongly_connected_components
    from networkit_spark.operators.kcore import core_decomposition_hindex
    from networkit_spark.sources import tpch_graph as tg

    timings: dict[str, float] = {}
    trials: dict[str, list[float]] = {}
    throughput: dict[str, dict] = {}

    # BENCH_KERNELS=comma,list restricts to a subset — bench_headline.py
    # uses this to run ONE kernel per fresh JVM (clean-protocol medians).
    only = os.environ.get("BENCH_KERNELS")
    only_set = set(only.split(",")) if only else None

    def want(name: str) -> bool:
        return only_set is None or name in only_set

    def timed(name: str, fn) -> float | None:
        """Median of n_trials wall-clock samples of fn(); records all
        samples. Returns the median (None if the kernel is filtered)."""
        if not want(name):
            return None
        samples = []
        for _ in range(n_trials):
            t0 = time.time()
            fn()
            samples.append(round(time.time() - t0, 3))
        med = sorted(samples)[len(samples) // 2]
        timings[name] = med
        trials[name] = samples
        return med

    # ---- pagerank on the customer→supplier link graph (the headline)
    g_cs = tg.customer_supplier_graph(spark, sf_dir)
    m_cs = g_cs.number_of_edges()
    # BENCH_PR_BROADCAST=1 broadcasts the |V| rank vector into the edge
    # join (pagerank.py broadcast_rank) — measured at sf0.1 per VERDICT
    # r3 #7; the recorded winner is the default (BENCH/BASELINE.md).
    pr_bc_env = os.environ.get("BENCH_PR_BROADCAST")
    pr_bc = None if pr_bc_env is None else pr_bc_env == "1"
    dt = timed(
        "pagerank_cs",
        lambda: pagerank_fixed(
            g_cs, iterations=pr_iters, broadcast_rank=pr_bc
        ).count(),
    )
    if dt is not None:
        throughput["pagerank_cs"] = {
            "edges": m_cs,
            "supersteps": pr_iters,
            "edges_per_sec_per_superstep": per_sec(m_cs * pr_iters, dt),
        }

    # ---- weakly connected components to fixpoint
    # BENCH_WCC_BROADCAST=0/1 pins the label-vector broadcast knob
    # (components.py broadcast_labels; default auto ≤4M rows — the same
    # measured tradeoff as pagerank's broadcast_rank)
    wcc_bc_env = os.environ.get("BENCH_WCC_BROADCAST")
    wcc_bc = None if wcc_bc_env is None else wcc_bc_env == "1"
    dt = timed(
        "wcc_cs",
        lambda: weakly_connected_components(g_cs, broadcast_labels=wcc_bc).count(),
    )
    if dt is not None:
        throughput["wcc_cs"] = {"edges": m_cs, "edges_per_sec": per_sec(m_cs, dt)}

    # ---- synchronous PLP on the dense supplier co-purchase graph
    g_co = tg.supplier_co_graph(spark, sf_dir)
    if want("plp_co"):
        m_co = g_co.number_of_edges()
        dt = timed("plp_co", lambda: plp_fixed(g_co, iterations=4).count())
        throughput["plp_co"] = {
            "edges": m_co,
            "supersteps": 4,
            "edges_per_sec_per_superstep": per_sec(m_co * 4, dt),
        }

    # ---- triangle counting on the sparse transcript conv→conv graph
    if want("triangles_conv"):
        g_conv_d = conv_graph(spark)
        g_conv = g_conv_d.to_undirected()
        m_conv = g_conv.number_of_edges()
        dt = timed("triangles_conv", lambda: triangle_counts(g_conv).count())
        throughput["triangles_conv"] = {
            "edges": m_conv,
            "edges_per_sec": per_sec(m_conv, dt),
        }

    # ---- round-2 additions (new keys — r1 keys stay comparable)
    timed("kcore_hindex_co", lambda: core_decomposition_hindex(g_co).count())
    timed("scc_cs", lambda: strongly_connected_components(g_cs).count())

    # sampled betweenness on the (shallow-diameter) undirected cs graph —
    # level-synchronous Brandes is O(diameter) supersteps by nature, so the
    # deep-chain conv graph is the wrong fixture for a wall-clock bench
    if want("betweenness_est_cs"):
        g_cs_u = g_cs.to_undirected()
        timed(
            "betweenness_est_cs",
            lambda: estimate_betweenness(g_cs_u, n_samples=16).count(),
        )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline kernel wall-clock (pagerank/wcc/plp/triangles)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "throughput": throughput,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
                "trials": trials,
                "trials_per_kernel": n_trials,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
