"""The two workloads and the pass each one runs.

Both workloads run the same calls in the same order, so every metric
exists on both; what differs is the graph the kernels see:

  sources.conv_edges   conv_adjacency_edges → parquet    (ingest)
  sources.reply_mint   reply_pairs → mint_ids             (ingest)
  graph.from_edges     GraphDF.from_edges, pinned
  graph.to_undirected  to_undirected(), pinned
  operators.pagerank   pagerank_fixed
  plans.ckpt.resume    save the ranks, resume one superstep   (full pass)
  operators.wcc        weakly_connected_components          (full pass)
  operators.plp        plp_fixed on the undirected view
  operators.triangles  triangle_counts on the undirected view (full pass)

On `transcript_pipeline` the kernels run on the conv→conv graph the pass
itself derives from the transcripts, so graph.* belong to the pass. On
`superstep_large` they run on an R-MAT graph pinned during set-up (graph.*
belong to set-up), and the ingest reads a smaller transcripts table.

An untraced pass skips the three calls marked "full pass" (FULL_ONLY): no
end-to-end metric reads them, and a pass has to stay short enough for
several to fit in one run (wcc alone would take 40% of it). Traced passes
are full, so every per-layer metric exists on both workloads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import check
import gen
from collector import TimingCheckpointer
from networkit_spark.graph import GraphDF
from networkit_spark.operators.components import weakly_connected_components
from networkit_spark.operators.pagerank import pagerank_fixed
from networkit_spark.operators.plp import plp_fixed
from networkit_spark.operators.triangles import triangle_counts
from networkit_spark.sources.transcripts import (
    conv_adjacency_edges,
    mint_ids,
    reply_pairs,
)

PR_ITERATIONS = 5
PLP_ITERATIONS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    conversations: int           # transcripts table size
    rmat_scale: int | None       # None: kernels run on the conv→conv graph
    edge_factor: int = 8
    cross_check: bool = False    # check the checker against numpy_ref


WORKLOADS = {w.name: w for w in (
    Workload("transcript_pipeline",
             "north-rule path: sources windows over a hub key feed a small derived "
             "graph whose supersteps move little data, so job launch and planning "
             "dominate",
             conversations=10_000, rmat_scale=None, cross_check=True),
    Workload("superstep_large",
             "R-MAT scale 14: the same calls and PageRank job count on a larger "
             "skewed graph, so executed shuffle, aggregation and hub-skew work "
             "weighs more",
             conversations=2_000, rmat_scale=14),
)}

CALLS = ("sources.conv_edges", "sources.reply_mint", "graph.from_edges",
         "graph.to_undirected", "operators.pagerank", "plans.ckpt.resume",
         "operators.wcc", "operators.plp", "operators.triangles")
FULL_ONLY = ("plans.ckpt.resume", "operators.wcc", "operators.triangles")


def conv_index(col: str):
    """Parse the full numeric suffix of a conversation id."""
    return F.substring_index(F.col(col), "_", -1).cast("long")


def pin(df):
    df = df.persist()
    return df, df.count()


class Bench:
    """Inputs, pinned state and expected answers of one workload and seed."""

    def __init__(self, wl: Workload, seed: int, work: str, tracer):
        self.wl, self.seed, self.tracer = wl, seed, tracer
        self.paths = {k: os.path.join(work, k) for k in
                      ("transcripts", "rmat", "conv_edges", "ckpt")}
        self.graph = self.undirected = None
        self.failures: list[str] = []
        self.attempted = 0
        self.cache_resets = 0  # times reset_cache had to drop everything

    # ---------------------------------------------------------------- set-up
    def setup(self, spark) -> dict:
        """Generate the inputs, write them as parquet and pin what the pass
        reads. Returns the call records of this set-up."""
        self.spark = spark
        recs = {}
        tr = gen.transcripts(self.seed, self.wl.conversations)
        pq.write_table(tr.table, self.paths["transcripts"])
        self.inputs = {"transcripts": tr}
        if self.wl.rmat_scale is not None:
            rm = gen.rmat_edges(self.seed, self.wl.rmat_scale, self.wl.edge_factor)
            pq.write_table(rm.table, self.paths["rmat"])
            self.inputs["rmat"] = rm
        self.transcripts, _ = pin(spark.read.parquet(self.paths["transcripts"]))
        if self.wl.rmat_scale is not None:
            recs = self._build_graph(self.paths["rmat"], weighted=False)
        self.ckpt = TimingCheckpointer(spark, self.paths["ckpt"], "pagerank")
        return recs

    def _cache_entries(self):
        """The session's cached-frame entries. The cache manager keeps them in
        a private field; reading it starts no Spark job."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        seq = field.get(cm)
        return cm, [seq.apply(i) for i in range(seq.size())]

    def mark_cache(self) -> None:
        """Remember what set-up pinned: reset_cache keeps exactly these."""
        ident = self.spark._jvm.java.lang.System.identityHashCode
        self.pinned = {ident(cd) for cd in self._cache_entries()[1]}

    def reset_cache(self) -> None:
        """Drop every frame cached since mark_cache; keep what set-up pinned.

        Some calls leave frames cached (plans.ranking.global_row_numbers and
        triangles.triangle_list never unpersist theirs), so without this what
        one pass left behind would change what the next pass does. If the
        cache still differs from set-up's afterwards, drop everything and pin
        the set-up's inputs again."""
        ident = self.spark._jvm.java.lang.System.identityHashCode
        cm, entries = self._cache_entries()
        jspark = self.spark._jsparkSession
        for cd in entries:
            if ident(cd) not in self.pinned:
                cm.uncacheQuery(jspark, cd.plan(), False, True)
        if {ident(cd) for cd in self._cache_entries()[1]} == self.pinned:
            return
        self.cache_resets += 1
        self.spark.catalog.clearCache()
        self.transcripts.persist().count()
        for gr in (self.graph, self.undirected):
            if gr is not None:
                gr.V.persist().count()
                gr.E.persist().count()
        self.mark_cache()

    def expect(self) -> None:
        """Expected answers, computed once per seed from the generated arrays."""
        tr = self.inputs["transcripts"]
        exp = {"conv_edges": check.conv_edges(tr), "reply_pairs": check.reply_pairs(tr)}
        if self.wl.rmat_scale is None:
            ce = exp["conv_edges"]
            g = check.Graph(ce["src"].to_numpy(), ce["dst"].to_numpy(), ce["weight"].to_numpy())
        else:
            rm = self.inputs["rmat"].arrays
            g = check.Graph(rm["src"], rm["dst"])
        exp["pagerank"], _, exp["pagerank_steps"] = check.pagerank(g, -1.0, PR_ITERATIONS)
        exp["resume"], _, exp["resume_steps"] = check.pagerank(g, -1.0, 1, start=exp["pagerank"])
        exp["wcc"] = check.wcc(g)
        exp["plp"] = check.plp(g, PLP_ITERATIONS)
        exp["triangles"] = check.triangles(g)
        self.g, self.exp = g, exp
        if self.wl.cross_check:
            self.attempted += 1
            for name in check.cross_check_numpy_ref(g, PR_ITERATIONS, PLP_ITERATIONS, exp):
                self.failures.append(f"checker disagrees with numpy_ref on {name}")

    # ------------------------------------------------------------------ pass
    def _call(self, recs: dict, name: str, fn):
        """Run one measured call; an exception counts as a failed call."""
        self.attempted += 1
        try:
            with self.tracer.span(name) as rec:
                out = fn()
        except Exception as exc:  # a failing call is a result, not a crash
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
            recs[name] = None
            return None
        recs[name] = rec
        return out

    def _verdict(self, recs: dict, name: str, ok: bool) -> None:
        if recs.get(name) is not None and not ok:
            self.failures.append(f"{name}: wrong answer")
            recs[name]["wrong"] = True

    def _build_graph(self, path: str, weighted: bool) -> dict:
        recs: dict = {}

        def from_edges():
            g = GraphDF.from_edges(self.spark.read.parquet(path), directed=True,
                                   weighted=weighted)
            g.V, n = pin(g.V)
            g.E, m = pin(g.E)
            return g, n, m

        def to_undirected():
            u = self.graph.to_undirected()
            u.E, _ = pin(u.E)
            return u

        built = self._call(recs, "graph.from_edges", from_edges)
        if built is None:
            return recs
        self.graph, n, m = built
        self.undirected = self._call(recs, "graph.to_undirected", to_undirected)
        self.built_nm = (n, m)
        if "rmat" in self.inputs:
            info = self.inputs["rmat"].info
            self._verdict(recs, "graph.from_edges", self.built_nm == (info["n"], info["m"]))
        return recs

    def run_pass(self, full: bool) -> dict:
        """One pass (`full`: with plans.ckpt.resume, operators.wcc and
        operators.triangles).
        Returns {call: record} plus '_pass', '_pagerank' and '_ckpt';
        outputs are checked afterwards, outside the timed calls."""
        recs: dict = {}
        out: dict = {}
        conv = self.wl.rmat_scale is None
        self.ckpt.clear()
        self.ckpt.reset_counters()
        pr_stats: dict = {}
        resume_stats: dict = {}

        def conv_edges():
            conv_adjacency_edges(self.transcripts).select(
                conv_index("src_conv").alias("src"),
                conv_index("dst_conv").alias("dst"), "weight",
            ).write.mode("overwrite").parquet(self.paths["conv_edges"])
            return True

        def reply_mint():
            v, e = mint_ids(reply_pairs(self.transcripts))
            return v.toPandas(), e.toPandas()

        def pr_fixed():
            ranks = pagerank_fixed(self.graph, iterations=PR_ITERATIONS, stats=pr_stats)
            out["pagerank_df"] = ranks
            return ranks.toPandas()

        def resume():
            self.ckpt.save(PR_ITERATIONS - 1, {"rank": out["pagerank_df"]})
            return pagerank_fixed(self.graph, iterations=PR_ITERATIONS + 1,
                                  checkpointer=self.ckpt, stats=resume_stats).toPandas()

        with self.tracer.span("pass", counters=False) as pass_rec:
            out["conv_edges"] = self._call(recs, "sources.conv_edges", conv_edges)
            out["reply_mint"] = self._call(recs, "sources.reply_mint", reply_mint)
            if conv and out["conv_edges"]:
                recs.update(self._build_graph(self.paths["conv_edges"], weighted=True))
            if self.graph is not None:
                out["pagerank"] = self._call(recs, "operators.pagerank", pr_fixed)
                if full and out["pagerank"] is not None:
                    out["resume"] = self._call(recs, "plans.ckpt.resume", resume)
                if full:
                    out["wcc"] = self._call(recs, "operators.wcc", lambda: (
                        weakly_connected_components(self.graph).toPandas()))
            if self.undirected is not None:
                out["plp"] = self._call(recs, "operators.plp", lambda: plp_fixed(
                    self.undirected, iterations=PLP_ITERATIONS).toPandas())
                if full:
                    out["triangles"] = self._call(recs, "operators.triangles", lambda: (
                        triangle_counts(self.undirected).toPandas()))
        recs["_pass"] = pass_rec
        recs["_pagerank"] = {
            "edges": pr_stats.get("edges", 0),
            "supersteps": len(pr_stats.get("iter_secs", [])),
            "resume_supersteps": len(resume_stats.get("iter_secs", [])),
        }
        recs["_ckpt"] = {"saves": self.ckpt.saves, "save_s": self.ckpt.save_s,
                         "written_mb": self.ckpt.written_bytes / float(1 << 20)}
        self._check(recs, out)
        if conv:
            for gr in (self.graph, self.undirected):
                if gr is not None:
                    gr.E.unpersist()
                    gr.V.unpersist()
            self.graph = self.undirected = None
        return recs

    # ---------------------------------------------------------------- checks
    def _check(self, recs: dict, out: dict) -> None:
        exp, g = self.exp, self.g
        v = self._verdict
        if out.get("conv_edges"):
            got = pq.read_table(self.paths["conv_edges"]).to_pandas()
            v(recs, "sources.conv_edges", check.edges_ok(got, exp["conv_edges"]))
        if out.get("reply_mint") is not None:
            v(recs, "sources.reply_mint", check.mint_ok(*out["reply_mint"], exp["reply_pairs"]))
        if self.wl.rmat_scale is None and recs.get("graph.from_edges") is not None:
            v(recs, "graph.from_edges", self.built_nm == (g.n, g.m))
        if out.get("pagerank") is not None:
            v(recs, "operators.pagerank", recs["_pagerank"]["supersteps"] == exp["pagerank_steps"]
              and check.pagerank_ok(out["pagerank"], g, exp["pagerank"]))
        if out.get("resume") is not None:
            v(recs, "plans.ckpt.resume", recs["_pagerank"]["resume_supersteps"] == exp["resume_steps"]
              and check.pagerank_ok(out["resume"], g, exp["resume"]))
        if out.get("wcc") is not None:
            v(recs, "operators.wcc", check.exact_ok(out["wcc"], "component", g, exp["wcc"]))
        if out.get("plp") is not None:
            v(recs, "operators.plp", check.exact_ok(out["plp"], "label", g, exp["plp"]))
        if out.get("triangles") is not None:
            v(recs, "operators.triangles",
              check.exact_ok(out["triangles"], "triangles", g, exp["triangles"]))


def realized_inputs(bench: Bench) -> dict:
    """n, m and seed of each generated input and of the kernel graph."""
    info = {k: dict(x.info) for k, x in bench.inputs.items()}
    info["kernel_graph"] = {"n": bench.g.n, "m": bench.g.m, "seed": bench.seed,
                            "undirected_m": int(bench.g.usrc.size)}
    return info
