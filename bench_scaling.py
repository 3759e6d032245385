"""Two-cluster-size scaling bench (north rule: throughput scaling efficiency
between N and 4N executors, evidenced by the same jobs at N and 4N local
cores on the same input, same seed — the sandbox analog of the reference's
strongScaling harness, networkit/engineering.pyx:96-127).

Six jobs spanning the engine's workload classes:
  * pagerank   — iterative shuffle-bound superstep (co-partitioned sorted
                 edge cache; only the |V| rank vector moves per superstep)
  * triangles  — one-shot compute-heavy self-join (oriented wedge join)
  * knn        — Arrow/numpy GEMM via mapInPandas (pure compute, pinned
                 single-thread BLAS per worker)
  * wcc        — hash-min + pointer-jumping fixpoint (variable superstep
                 count, convergence scans on the carried-old column)
  * plp        — synchronous label propagation, struct-min winner agg on a
                 skewed RMAT graph (the skew-safe agg is the point)
  * scc        — CFP random-pivot fixpoint (nested fixpoint: forward/
                 backward closures inside an outer peeling loop)

PROTOCOL (round 4): every job's input is PRE-GENERATED to parquet by a
dedicated 32-core JVM (deterministic seeds), and each measured parallelism
level runs in its own fresh JVM that only READS the parquet. Measured
r3→r4: generating the input inside the measuring JVM polluted the heap /
GC and (for RMAT) made the realized edge count a function of the dedup
yield rather than the spec — PLP's recorded 0.471 "efficiency" was an
artifact of a 4×-smaller-than-assumed per-sweep workload plus generator
heap pressure; the same kernel on a parquet-read 64.8M-sym-row input
measures 0.85. Pre-generation also makes the north rule's "same input"
clause literal: every level consumes byte-identical files.

The headline N→4N pair is 2→8 cores — within the 32-core machine's
parallel headroom. 8→32 is reported alongside: in local mode all threads
share ONE JVM heap, GC, and memory bus, so that pair measures single-box
bandwidth saturation, not the distributed scaling a real 4N-executor
cluster exhibits.

Writes BENCH/BASELINE.md. Usage:
  python bench_scaling.py [--quick] [--jobs=plp,wcc] [--weak]
Inputs are cached under $SPARK_GRAFT_BENCH_CACHE (default
/tmp/bench_scaling_inputs); delete the dir to force regeneration.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
CACHE = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/bench_scaling_inputs")

COMMON = r"""
import json, os, sys, time, statistics
sys.path.insert(0, %(repo)r)
cores = int(sys.argv[1])
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
spark = (SparkSession.builder.master(f"local[{cores}]")
    .appName(f"scaling-{cores}")
    .config("spark.sql.shuffle.partitions", str(max(32, cores * 3)))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "48g")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
"""

# ---------------------------------------------------------------------------
# input pre-generation (always 32 cores, its own JVM, deterministic seeds)
# ---------------------------------------------------------------------------

GEN_JOB = COMMON + r"""
kind = sys.argv[2]; out = sys.argv[3]
if kind == "uniform":
    # uniform random digraph (out-degree ~ef): isolates shuffle scaling
    # from skew (skew handling is salting/orientation, benched separately)
    scale = int(sys.argv[4]); ef = int(sys.argv[5])
    n = 1 << scale; m = n * ef
    e = spark.range(m).select(
        F.pmod(F.abs(F.xxhash64("id", F.lit(1))), F.lit(n)).alias("src"),
        F.pmod(F.abs(F.xxhash64("id", F.lit(2))), F.lit(n)).alias("dst"),
    ).filter("src != dst").withColumn("weight", F.lit(1.0))
    v = spark.range(n).select("id")
elif kind == "rmat":
    # RMAT power-law graph — exercises hub skew; dedup'd undirected
    scale = int(sys.argv[4]); ef = int(sys.argv[5])
    from networkit_spark.sources.generators import rmat
    g0 = rmat(spark, scale, ef, dedup=True, directed=False)
    e, v = g0.E, g0.V
elif kind == "vectors":
    n = int(sys.argv[4]); dim = int(sys.argv[5])
    e = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (F.pmod(F.abs(F.xxhash64("id", i)), F.lit(2000))
                       .cast("double") - 1000.0) / 1000.0).alias("embedding"))
    v = None
else:
    raise SystemExit(f"unknown input kind {kind}")
e.write.mode("overwrite").parquet(out + "/edges")
if v is not None:
    v.write.mode("overwrite").parquet(out + "/vertices")
print(json.dumps({"gen": kind, "out": out,
                  "edge_rows": spark.read.parquet(out + "/edges").count()}))
spark.stop()
"""

# ---------------------------------------------------------------------------
# measured jobs — read the pre-generated parquet, pin it, then measure
# ---------------------------------------------------------------------------

PAGERANK_JOB = COMMON + r"""
ind = sys.argv[2]; iters = int(sys.argv[3])
e = spark.read.parquet(ind + "/edges").localCheckpoint(eager=True)
v = spark.read.parquet(ind + "/vertices").localCheckpoint(eager=True)
from networkit_spark.graph import GraphDF
from networkit_spark.operators.pagerank import pagerank_fixed
g = GraphDF(v, e, directed=True, weighted=False)
stats = {}
# broadcast_rank=False pins the co-partitioned shuffle-join plan: this job
# evidences the |V|-does-not-fit-per-executor regime (the 100 TB shape);
# the broadcast small-|V| fast path is measured separately (BASELINE.md)
pagerank_fixed(g, iterations=iters + 2, stats=stats,
               broadcast_rank=False).count()
secs = stats["iter_secs"][2:]
med = statistics.median(secs)
print(json.dumps({"job": "pagerank", "cores": cores, "edges": stats["edges"],
                  "median_sec": round(med, 2),
                  "all_sec": [round(s, 2) for s in stats["iter_secs"]],
                  "throughput": round(stats["edges"] / med, 1),
                  "unit": "edges/s/superstep"}))
spark.stop()
"""

TRIANGLES_JOB = COMMON + r"""
ind = sys.argv[2]
e = spark.read.parquet(ind + "/edges").localCheckpoint(eager=True)
v = spark.read.parquet(ind + "/vertices").localCheckpoint(eager=True)
from networkit_spark.graph import GraphDF
from networkit_spark.operators.triangles import triangle_count_total
g = GraphDF(v, e, directed=False, weighted=True)
m = g.E.count()
# 5 trials, first two excluded, median of the rest (same methodology as
# pagerank: first supersteps pay codegen + broadcast build + heap growth)
secs = []
nt = 0
for _ in range(5):
    t0 = time.time()
    nt = triangle_count_total(g)
    secs.append(time.time() - t0)
dt = statistics.median(secs[2:])
print(json.dumps({"job": "triangles", "cores": cores, "edges": m,
                  "triangles": nt, "median_sec": round(dt, 2),
                  "all_sec": [round(s, 2) for s in secs],
                  "throughput": round(m / dt, 1), "unit": "edges/s"}))
spark.stop()
"""

KNN_JOB = COMMON + r"""
ind = sys.argv[2]; nq = int(sys.argv[3])
corpus = spark.read.parquet(ind + "/edges")
corpus = corpus.repartition(64).localCheckpoint(eager=True)
n = corpus.count()
qpdf = corpus.filter(f"vec_id < {nq}").toPandas()
from networkit_spark.functions.similarity import knn_bruteforce_pandas
# 1 warmup + 5 timed trials, median — the first pass pays Python-worker
# startup + Arrow codegen (measured 28.6s cold vs 17.4s steady at 8
# cores on the 4M corpus); single-trial timing recorded that warmup as
# if it were the kernel. 5 trials because within-JVM spread at 8 cores
# measured plus-minus 25 percent (21-33s) on the selection-bound kernel.
ts = []
for trial in range(6):
    t0 = time.time()
    knn_bruteforce_pandas(corpus, qpdf, k=10).count()
    ts.append(time.time() - t0)
dt = statistics.median(ts[1:])
print(json.dumps({"job": "knn", "cores": cores, "pairs": n * nq,
                  "median_sec": round(dt, 2),
                  "all_sec": [round(s, 2) for s in ts],
                  "throughput": round(n * nq / dt, 1), "unit": "pairs/s"}))
spark.stop()
"""


WCC_JOB = COMMON + r"""
ind = sys.argv[2]
# uniform random graph treated undirected: low diameter, so the fixpoint
# is a handful of hash-min sweeps + pointer jumping — the superstep count
# is identical at every parallelism level (same input, same seed)
e = spark.read.parquet(ind + "/edges").localCheckpoint(eager=True)
v = spark.read.parquet(ind + "/vertices").localCheckpoint(eager=True)
m = e.count()
from networkit_spark.graph import GraphDF
from networkit_spark.operators.components import weakly_connected_components
g = GraphDF(v, e, directed=True, weighted=False)
secs = []
# broadcast_labels=False pins the co-partitioned shuffle-join plan (the
# |V|-exceeds-executor regime this job evidences); the broadcast small-|V|
# fast path is measured separately in bench.py, like pagerank's
for _ in range(3):
    t0 = time.time()
    weakly_connected_components(g, broadcast_labels=False).count()
    secs.append(time.time() - t0)
dt = statistics.median(secs[1:])
print(json.dumps({"job": "wcc", "cores": cores, "edges": m,
                  "median_sec": round(dt, 2),
                  "all_sec": [round(s, 2) for s in secs],
                  "throughput": round(m / dt, 1), "unit": "edges/s"}))
spark.stop()
"""

PLP_JOB = COMMON + r"""
ind = sys.argv[2]; sweeps = 8
e = spark.read.parquet(ind + "/edges").localCheckpoint(eager=True)
v = spark.read.parquet(ind + "/vertices").localCheckpoint(eager=True)
from networkit_spark.graph import GraphDF
from networkit_spark.operators.plp import plp_fixed
# RMAT: power-law degrees — exercises the struct-min winner agg under the
# hub skew it was designed for (a per-dst window would straggle here)
g = GraphDF(v, e, directed=False, weighted=True)
stats = {}
# PLP always joins its labels by shuffle — the co-partitioned plan of the
# |V|-exceeds-executor regime this job evidences, like pagerank/wcc here.
# Steady-state per-sweep protocol (same as the pagerank job): the first
# two sweeps pay codegen, the edge-cache build, and heap growth — the
# metric is the median of the remaining per-sweep timings. End-to-end
# timing at 3 trials showed ±30 percent JIT/GC trial noise; per-sweep
# medians inside one run are far tighter.
plp_fixed(g, iterations=sweeps, stats=stats).count()
m = stats["edges"] // 2  # undirected edge count (stats counts E_sym rows)
secs = stats["iter_secs"][2:]
dt = statistics.median(secs)
print(json.dumps({"job": "plp", "cores": cores, "edges": m,
                  "median_sec": round(dt, 2),
                  "all_sec": [round(s, 2) for s in stats["iter_secs"]],
                  "throughput": round(m / dt, 1),
                  "unit": "edges/s/sweep"}))
spark.stop()
"""

SCC_JOB = COMMON + r"""
ind = sys.argv[2]
# uniform random DIGRAPH, mean out-degree ef > 1: one giant SCC plus a
# tail of trivial ones — the standard CFP workload shape
e = spark.read.parquet(ind + "/edges").localCheckpoint(eager=True)
v = spark.read.parquet(ind + "/vertices").localCheckpoint(eager=True)
m = e.count()
from networkit_spark.graph import GraphDF
from networkit_spark.operators.components import strongly_connected_components
g = GraphDF(v, e, directed=True, weighted=False)
# 4 trials: the nested fixpoint's many small supersteps make single-trial
# noise ~2x (GC/scheduling), so median of the last 3
secs = []
for _ in range(4):
    t0 = time.time()
    strongly_connected_components(g).count()
    secs.append(time.time() - t0)
dt = statistics.median(secs[1:])
print(json.dumps({"job": "scc", "cores": cores, "edges": m,
                  "median_sec": round(dt, 2),
                  "all_sec": [round(s, 2) for s in secs],
                  "throughput": round(m / dt, 1), "unit": "edges/s"}))
spark.stop()
"""


def run(script: str, args: list[str], env=None) -> dict:
    e = dict(os.environ)
    e.update(env or {})
    script = script % {"repo": REPO}
    out = subprocess.run(
        [sys.executable, "-c", script, *args],
        capture_output=True, text=True, timeout=1800, env=e,
    )
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"worker failed:\n{out.stdout[-1500:]}\n{out.stderr[-1500:]}")


def ensure_input(kind: str, a: int, b: int) -> str:
    """Generate (or reuse) a cached parquet input; returns its directory.

    Generation always runs in its own 32-core JVM so no measured JVM ever
    pays generator heap/GC costs, and every level reads identical bytes.
    """
    d = os.path.join(CACHE, f"{kind}_{a}_{b}")
    # completeness marker written AFTER both tables land — edges/_SUCCESS
    # alone passed a half-generated cache (edges written, vertices missing)
    # when a generation run was interrupted
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        return d
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(CACHE, exist_ok=True)
    r = run(GEN_JOB, ["32", kind, d, str(a), str(b)])
    print(json.dumps(r))
    with open(marker, "w") as f:
        f.write(json.dumps(r) + "\n")
    return d


def weak_scaling():
    """Reference weakScaling analog (networkit/engineering.pyx:129+): input
    grows with the core count (4× edges per 4× cores), ideal wall-clock is
    CONSTANT across levels — efficiency_N→4N = T_N / T_4N. Pagerank only
    (the headline metric). Writes BENCH/WEAK.md."""
    levels = [(2, 18), (8, 20), (32, 22)]
    results = {}
    for cores, scale in levels:
        ind = ensure_input("uniform", scale, 16)
        r = run(PAGERANK_JOB, [str(cores), ind, "6"])
        results[cores] = r
        print(json.dumps(r))
    e28 = round(results[2]["median_sec"] / results[8]["median_sec"], 3)
    e832 = round(results[8]["median_sec"] / results[32]["median_sec"], 3)
    lines = [
        "# BENCH/WEAK — weak-scaling evidence (pagerank)",
        "",
        "Reference weakScaling analog (networkit/engineering.pyx:129+):",
        "the input grows with the core count — 4× edges per 4× cores, same",
        "generator, same seed — so ideal per-superstep wall-clock is FLAT",
        "and efficiency_N→4N = T_N / T_4N (1.0 = perfect). Inputs are",
        "pre-generated parquet (see BASELINE.md protocol note).",
        "",
        "| cores | scale (2^s nodes, 16/node edges) | median s/superstep | edges/s/superstep | weak eff vs prev |",
        "|---|---|---|---|---|",
    ]
    prev = None
    for cores, scale in levels:
        r = results[cores]
        eff = "" if prev is None else f"{round(prev['median_sec'] / r['median_sec'], 3)}"
        lines.append(
            f"| {cores} | {scale} | {r['median_sec']} | {r['throughput']:.0f} | {eff} |"
        )
        prev = r
    lines += [
        "",
        f"Summary: weak efficiency 2→8 = **{e28}**, 8→32 = {e832} (same",
        "single-box caveat as BASELINE.md: the 8→32 pair shares one memory",
        "bus; 2→8 is the cluster-regime analog).",
        "",
        f"raw: {json.dumps(results)}",
        "",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "WEAK.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote BENCH/WEAK.md")


def main():
    if "--weak" in sys.argv:
        weak_scaling()
        return
    quick = "--quick" in sys.argv
    only = [a.split("=", 1)[1].split(",") for a in sys.argv if a.startswith("--jobs=")]
    only = only[0] if only else None
    levels = [2, 8, 32]
    # job -> (script, input spec (kind, a, b), extra args, env)
    # RMAT dedup yield is sublinear in ef (hub collisions): plp's scale
    # 22/ef 32 spec realizes ~32M undirected edges (~65M sym rows/sweep).
    # Strong-scaling input sizing is driven by the measured two-level
    # Amdahl decomposition (T_N = f + p/N over the 2/8 pair): every job
    # carries a size-independent serial term f (job launch, AQE planning,
    # stage barriers, checkpoint bookkeeping) that a real cluster amortizes
    # but a small input cannot. Sizes below put p/4 >> f at 8 cores.
    # Measured on uniform 2^21/16 (33.5M edges): pagerank f=1.19s p=12.7s
    # per superstep AFTER the hash(id)-carry fix (was f=2.29) → scale 22
    # doubles p. wcc end-to-end f≈19s p≈84s at 2^20/8 → scale 22. knn
    # f≈3.3s p≈33s at 2M vectors → 4M.
    jobs = {
        "pagerank": (PAGERANK_JOB, ("uniform", 20 if quick else 22, 16),
                     ["6" if quick else "8"], {}),
        "triangles": (TRIANGLES_JOB, ("rmat", 17 if quick else 19, 8),
                      [], {}),
        "knn": (KNN_JOB, ("vectors", 1000000 if quick else 4000000, 64),
                ["256" if quick else "512"],
                {"OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
                 "MKL_NUM_THREADS": "1"}),
        "wcc": (WCC_JOB, ("uniform", 19 if quick else 22, 8), [], {}),
        "plp": (PLP_JOB, ("rmat", 17 if quick else 22, 8 if quick else 32),
                [], {}),
        # scc: the nested fixpoint's serial job-launch floor (python-
        # sequenced supersteps) dominates below ~10^7 edges — 2^21/8 puts
        # the forward/backward closure sweeps in the parallel regime
        "scc": (SCC_JOB, ("uniform", 16 if quick else 21, 8), [], {}),
    }
    if only:
        jobs = {k: v for k, v in jobs.items() if k in only}
    results: dict[str, dict[int, dict]] = {}
    for name, (script, spec, args, env) in jobs.items():
        ind = ensure_input(*spec)
        results[name] = {}
        for c in levels:
            r = run(script, [str(c), ind, *args], env)
            results[name][c] = r
            print(json.dumps(r))

    def eff(job, lo, hi):
        sp = results[job][lo]["median_sec"] / results[job][hi]["median_sec"]
        return round(sp, 3), round(sp / (hi / lo), 3)

    summary = {}
    for job in jobs:
        sp28, e28 = eff(job, 2, 8)
        sp832, e832 = eff(job, 8, 32)
        summary[job] = {
            "levels": {
                c: {"sec": results[job][c]["median_sec"],
                    "throughput": results[job][c]["throughput"],
                    "unit": results[job][c]["unit"]}
                for c in levels
            },
            "speedup_2_to_8": sp28, "efficiency_2_to_8": e28,
            "speedup_8_to_32": sp832, "efficiency_8_to_32": e832,
        }
    print(json.dumps(summary))

    # partial runs (--jobs=...) merge into the previously recorded summary
    # so a subset rerun never drops the other jobs' rows
    prev_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    if only and os.path.exists(prev_path):
        with open(prev_path) as f:
            for line in f:
                if line.startswith("raw: "):
                    prev = json.loads(line[5:])
                    for k, v in prev.items():
                        # JSON round-trip stringifies the level keys
                        v["levels"] = {int(c): lv for c, lv in v["levels"].items()}
                        summary.setdefault(k, v)
                    break

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    lines = [
        "# BENCH/BASELINE — two-cluster-size scaling evidence",
        "",
        "Same jobs, same deterministic inputs, same seeds, at three",
        "parallelism levels in separate JVMs (sandbox analog of N vs 4N",
        "executors; mirrors the reference strongScaling harness,",
        "networkit/engineering.pyx:96-127). Headline pair N→4N = 2→8 cores;",
        "8→32 shares one JVM heap/memory bus and measures single-box",
        "saturation, not distributed scaling.",
        "",
        "Protocol (round 4): inputs are PRE-GENERATED parquet, written once",
        "by a dedicated 32-core JVM; every measured level runs in a fresh",
        "JVM that only reads them. Round 3 generated inputs inside the",
        "measuring JVM — that polluted the measured heap/GC and, for RMAT,",
        "made the realized workload a function of dedup yield (4× smaller",
        "than the spec assumed): PLP's recorded 0.471 was an artifact, not",
        "a plan property. Pre-generation makes the north rule's same-input",
        "clause literal — every level consumes byte-identical files.",
        "Strict-idle addendum: the box must run NOTHING else during the",
        "measured trials — not even DuckDB oracle checks (DuckDB grabs all",
        "32 threads; a ~1s query during one trial measured as a 2× outlier).",
        "Recorded runs below were taken with the machine fully quiet.",
        "",
        "| job | metric | local[2] | local[8] | local[32] | eff 2→8 | eff 8→32 |",
        "|---|---|---|---|---|---|---|",
    ]
    for job, s in summary.items():
        lv = s["levels"]
        lines.append(
            f"| {job} | {lv[2]['unit']} | {lv[2]['throughput']:.0f} "
            f"({lv[2]['sec']}s) | {lv[8]['throughput']:.0f} ({lv[8]['sec']}s) "
            f"| {lv[32]['throughput']:.0f} ({lv[32]['sec']}s) "
            f"| **{s['efficiency_2_to_8']}** | {s['efficiency_8_to_32']} |"
        )
    lines += [
        "",
        "Triangle kernel note (round 2): the r1 plan shuffled the ~wedge-set",
        "(100×|E| rows) for the closing-edge semi join and spilled at every",
        "parallelism (±40% variance, 131s at 2 cores). The closing side is",
        "just the oriented edge table, so it is now BROADCAST as packed",
        "(u<<32|w) longs (Spark's specialized LongHashedRelation): wedges",
        "stream map-side and are never exchanged — ~10× faster absolute",
        "(13-14s at 2 cores), spill eliminated. Residual 2→8 inefficiency is",
        "single-JVM DRAM latency on the shared probe table (all threads",
        "random-probe ONE ~64MB relation through one memory controller);",
        "on a real cluster every executor owns a private copy + bus, which",
        "is the regime the broadcast design targets. Above the broadcast",
        "threshold the plan falls back to a shuffle join over 4× partitions",
        "(bounded per-task state instead of spill).",
        "",
        "Why this transfers to a real 4N-executor cluster at 10^12 edges:",
        "- per-superstep serial fixed costs here (AQE planning, task launch,",
        "  localCheckpoint of the |V| vector: ~0.3-0.5s) are size-independent",
        "  and amortize to noise at cluster scale;",
        "- shuffle bytes per superstep are |V|-sized, not |E|-sized: the",
        "  static frac-edge table is cached hash-partitioned AND sorted by",
        "  src (bucketed-join pattern), so the per-superstep join performs no",
        "  exchange and no sort on the edge side;",
        "- hub-vertex skew is handled explicitly (degree orientation for",
        "  triangles, map-side partial aggregation + optional salted",
        "  two-stage agg for PageRank: pagerank(salt_buckets=...)), so no",
        "  straggler task bounds the superstep — the property that actually",
        "  determines scaling efficiency on skewed data;",
        "- in local mode the 8→32 pair adds threads to ONE memory bus; a",
        "  real 4N cluster adds 4N buses and 4N shuffle services, which is",
        "  what the 2→8 pair (unsaturated) approximates.",
        "",
        "Vertex-vector broadcast knob (measured at sf0.1 local[32], fresh",
        "JVM per run, 1 warmup + 3 trials, medians) — the scaling jobs above",
        "pin broadcast OFF to evidence the co-partitioned shuffle plan (the",
        "|V|-exceeds-executor 100 TB regime); the small-|V| fast path:",
        "- pagerank broadcast_rank: 17.5s vs 23.4s shuffle → auto-on ≤4M rows",
        "- wcc broadcast_labels:    13.5s vs 22.0s shuffle → auto-on ≤4M rows",
        "- plp label broadcast:     17.0s vs 14.7s shuffle → REGRESSION,",
        "  removed (PLP's cost is the (dst,label) score agg whose map-side",
        "  partials shuffle either way; the broadcast only added a serial",
        "  per-sweep build). wcc's knob is bit-identical by test",
        "  (test_wcc_broadcast_labels_bit_identical).",
        "",
        "SCC serial-term decomposition (round 4, uniform 2^21/8): fitting",
        "T(N) = f + p/N to the measured 2/8-core times gave f ~= 82s of",
        "core-count-INDEPENDENT time vs p ~= 652s of parallel work — the",
        "f is the python-driver-sequenced nested fixpoint itself (the",
        "inner forward/backward closures are short Spark jobs whose",
        "launch + AQE-plan time never parallelizes), capping 2->8",
        "efficiency at 0.62.",
        "",
        "SCC f-term attack (round 5, same pre-generated uniform 2^21/8",
        "input, bit-identical outputs — every change pytest-pinned",
        "against the old path):",
        "1) FUSED FW+BW: the forward and backward colorings never",
        "   interact, so id2 = 2*id + side runs BOTH through one fixpoint",
        "   over the side-tagged doubled edge table; bc(v) = max-priority",
        "   node v reaches (UNRESTRICTED — peel {fc=bc=x} = SCC(x)",
        "   exactly). Driver-sequenced sweeps 14 -> 7; rows per sweep",
        "   double (p unchanged, f halved). Extra pointer jumps were",
        "   measured FIRST and rejected: sweep count is edge-propagation-",
        "   bound, not pointer-depth-bound (2 or 3 jumps per sweep left 14",
        "   sweeps and only added join cost).",
        "2) DELTA FRONTIER: only colors changed last sweep propagate",
        "   (monotone-max induction => bit-identical per sweep); late",
        "   sweeps' |E|-sized join outputs collapse to slivers. The same",
        "   pattern was ported to wcc's hash-min fixpoint (monotone-min;",
        "   measured neutral-within-noise there — the uniform input",
        "   converges in ~6 dense-change sweeps, so there is little tail",
        "   for the delta to prune; it is kept for the at-scale regime",
        "   where diameter adds sparse-change sweeps).",
        "3) LOW-YIELD TRIM EXIT: a trim sweep peeling <1% of the active",
        "   set skips the two full-|E| semi-join rebuilds (was 25s of a",
        "   155s 8-core run to remove 0.03% of nodes); stale edges drop",
        "   in the fixpoint joins and the round-end cut.",
        "4) BOUNDED LOCAL FINISH: post-round-0 remnant <= 100k rows",
        "   collects once into a driver Tarjan, replacing the tail",
        "   rounds' job storm (collected data O(threshold); threshold 0 =",
        "   pure distributed, identical ids by construction).",
        "5) Color auto-broadcast threshold 512k, NOT wcc's 4M: with the",
        "   delta frontier the shuffle sides are already small, and the",
        "   jump's 2|V| parent broadcast rebuilt per sweep measured",
        "   150.6s vs 120.5s shuffle at 8 cores.",
        "Net: 8-core median 163.5 -> 126.9s, 32-core 200.0 -> 87.5s,",
        "2->8 efficiency 0.624 -> 0.701 (8->32: 0.204 -> 0.363). The",
        "residual floor amortizes on a real cluster for the same reason",
        "as before: per-round closures run on 1000x more edges for the",
        "same number of rounds.",
        "",
        "knn kernel orientation (measured round 4, 10k-row Arrow batches,",
        "512 queries, dim 64, f64): the brute-force GEMM job was",
        "SELECTION-bound, not multiply-bound — per batch the (batch, nq)",
        "score matrix put np.argpartition on a stride-nq axis (0.30s/batch",
        "+ a negated 40MB copy) while the GEMM itself cost 0.013-0.07s.",
        "Computing the transposed product qm @ cm.T makes the per-query",
        "top-k scan contiguous rows and the row build fully vectorized:",
        "0.335 -> 0.11 s/batch steady-state (3x), identical results.",
        "",
        "WCC pointer-jump experiments (round 4, fresh JVMs, same protocol):",
        "1) PERSIST the pre-jump label frame — it feeds BOTH sides of the",
        "|V| self-join; without the persist each side's stage recomputes",
        "the hash-min join subtree (only exchanges are reused across the",
        "stage split). Measured -20% at 2 AND 8 cores on uniform 2^20/8,",
        "and -44% at 8 cores on uniform 2^22/8 (180.5 -> 100.8s). The",
        "IDENTICAL persist in SCC's struct-max fixpoint REGRESSED",
        "163.5 -> 210.3s at 8 cores (many short sweeps on shrinking active",
        "sets: the cache write costs more than the duplicated",
        "post-exchange work) — kept recompute there.",
        "2) ADAPTIVE BROADCAST REMAP for the jump join, whose key is the",
        "LABEL VALUE (at convergence ~all of |V| carries the giant",
        "component's label): replace the shuffled self-join with a",
        "broadcast of the label->label[label] remap table once its",
        "#distinct-labels row count fits a threshold. Measured at 8 cores,",
        "uniform 2^22/8: threshold 4M REGRESSES vs never (118.7 vs 100.8s",
        "— early sweeps have millions of distinct labels and the",
        "driver-side broadcast build is itself serial), threshold 512k is",
        "a WASH (101.4s). Locally the skewed partition is only ~70MB",
        "(~1-2s/sweep straggler), so the remap can't win here — but at",
        "10^10 vertices that straggler task is ~250GB, a job-killer, while",
        "the late-sweep remap is kilobytes. Default threshold 512k: free",
        "at this scale by measurement, and the de-skew insurance the plan",
        "needs at the 100-TB tier. Bit-identical either way",
        "(test_wcc_jump_remap_bit_identical).",
        "3) ZERO-JOB REMAP DECISION: the first remap cut ran a",
        "distinct+count job EVERY sweep just to test the threshold (one",
        "full extra |V| pass per sweep, at every parallelism, even with",
        "the remap disabled) — that job is why the first recorded wcc row",
        "this round measured 291/119s (eff 0.613) with the regressed 4M",
        "default. Hash-min label sets only shrink, so the PREVIOUS block",
        "end's countDistinct (folded into the convergence agg as a second",
        "output column — same single job) upper-bounds this sweep's count",
        "and drives the decision with zero extra jobs.",
        "4) SINGLE-JOB SUPERSTEPS (wcc, scc, kcore): every fixpoint block",
        "end paid TWO driver-sequenced jobs — the convergence count from",
        "cache, then an eager localCheckpoint re-scanning the same cache.",
        "The checkpoint is now LAZY: its LogicalRDD plan break is",
        "immediate, materialization rides inside the NEXT sweep's count",
        "job, and the backing cache is released one sweep late. SCC's",
        "per-round bookkeeping (trim keep_v/active_e, priority init,",
        "reversed same-class edges, cells, cut) gets the same treatment —",
        "each lazy checkpoint is materialized by the count or first sweep",
        "that follows it. Job launch + AQE planning is the measured",
        "core-count-INDEPENDENT f term of the 2/8-core Amdahl fit (f~=82s",
        "for SCC, ~61s for the first wcc row this round), which a real",
        "cluster amortizes but a small input cannot — halving job count",
        "attacks the f term directly. Bit-identical by the components and",
        "kcore suites (22 tests).",
        "",
        "Compact-id edge cache (measured round 4, 64.8M-sym-row RMAT,",
        "per-sweep steady medians, fresh JVMs): casting src/dst/label to",
        "int32 in the PLP superstep loop is NEUTRAL in steady sweeps at",
        "both levels (8-core 4.08→4.2 s/sweep, 2-core 13.91→13.67) —",
        "Tungsten's shuffle rows pad ints to 8-byte slots, so packing only",
        "accelerates the one-time columnar cache build (32.3→23.2s first",
        "sweep). REJECTED as a production change: no steady-state win to",
        "buy the cast-back complexity and overflow guard.",
        "",
        f"raw: {json.dumps(summary)}",
        "",
    ]
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
