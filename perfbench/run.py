"""networkit_spark benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

One Python process issues one measured call after another (see
workloads.py). A run sets up several times (setup_s is the median), warms
up with one unmeasured pass, then makes passes while the next one is
expected to end within `--seconds` (at least two) and reports medians over
them. Between passes it drops what the pass left in Spark's cache. Every
output is checked against a numpy checker after each pass, outside the
timed calls. The driver JVM runs with the C1 compiler only, so a run does
not measure how far C2 compilation got.

--trace 0 prints the end-to-end metrics; --trace 1 makes traced full passes
and untraced passes by turns, and prints the per-layer metrics
(status-store counters per call) plus trace_overhead_s. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}; a readable report goes to
stderr. `--workload all` runs every workload, untraced and traced, in child
processes and prints every metric by name with its unit.

Everything the run writes stays under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
MIN_PASSES = 2  # measured passes per untraced run, at least
SETTLE_S = 0.25  # pause after each pass for Spark's clean-up threads

END_TO_END = {  # name: unit
    "setup_s": "s", "run_s": "s", "run_cpu_s": "s", "ingest_cpu_s": "s",
    "pagerank_cpu_s": "s", "plp_cpu_s": "s", "peak_rss_mb": "MB",
}
# Printed in the readable report only. On a shared host the wall time of a
# call of a few seconds follows the neighbours' load (time taken from the
# vCPUs, and busy hyperthread siblings) more than the call, so the bounded
# per-call metrics are CPU times; run_s keeps the wall time of a whole pass.
REPORT_ONLY = {"ingest_s": "s", "pagerank_s": "s", "plp_s": "s", "pagerank_eps": "1/s"}
KERNEL_METRICS = {"pagerank": "operators.pagerank", "plp": "operators.plp"}
COUNTER_UNITS = {"s": "s", "cpu_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
                 "task_s": "s", "busy_frac": "ratio", "driver_gap_s": "s",
                 "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
                 "tasks_failed": "count"}
EXTRA_UNITS = {"operators.pagerank.supersteps": "count",
               "operators.pagerank.jobs_per_superstep": "count",
               "plans.ckpt.saves": "count", "plans.ckpt.save_s": "s",
               "plans.ckpt.written_mb": "MB", "session.start_s": "s",
               "trace_overhead_s": "s"}


def per_layer_units() -> dict:
    from workloads import CALLS

    units = {f"{c}.{k}": u for c in CALLS for k, u in COUNTER_UNITS.items()}
    units.update(EXTRA_UNITS)
    return units


def summary(values: list[float]) -> dict:
    """Median, the highest percentile the sample count supports (at least
    ten samples beyond it; the maximum below that count), and the count."""
    vals = sorted(values)
    n = len(vals)
    out = {"median": statistics.median(vals), "n": n, "samples": list(values)}
    if n >= 20:
        p = 100 * (1 - 10 / n)
        out[f"p{p:.0f}"] = vals[min(n - 1, int(p / 100 * n))]
    else:
        out["max"] = vals[-1]
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver JVM's VmHWM plus this process's maximum RSS."""
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_mb = 0.0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_mb = int(line.split()[1]) / 1024.0
    return jvm_mb + py_mb


# ----------------------------------------------------------------- session
def prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(work: str, cores: int):
    from networkit_spark.session import get_spark, tune_for_iteration

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        master=f"local[{cores}]",
        app_name="perfbench",
        extra_conf={
            # a fixed 2 GB driver heap: heap growth is then not left to GC
            # timing, and peak_rss_mb repeats from run to run
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # C1 only (TieredStopAtLevel=1): C2 takes about a minute of passes
            # to settle, longer than a run, so with it a run measures how far
            # the compiler got (and compiler threads compete with the work)
            "spark.driver.extraJavaOptions": (f"-Xms2g -XX:TieredStopAtLevel=1 "
                                              f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_iteration(spark)
    return spark


def stop_session(spark, shutdown_jvm: bool) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if shutdown_jvm and gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def settle(spark, bench) -> None:
    """Between passes, outside the timed calls, return to the state the first
    pass started from: drop what the finished pass left cached, and collect
    Python garbage so the pass's DataFrames release their JVM objects, with
    a short pause for Spark's clean-up threads."""
    bench.reset_cache()
    gc.collect()
    time.sleep(SETTLE_S)


# --------------------------------------------------------------------- run
def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from collector import Tracer
    from workloads import WORKLOADS, Bench, realized_inputs

    wl = WORKLOADS[name]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{name}-seed{seed}-trace{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)

    spark = tracer = None
    setups, starts, setup_recs = [], [], []
    bench = None
    try:
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                stop_session(spark, shutdown_jvm=False)
            t0 = time.perf_counter()
            spark = start_session(work, cores)
            start_s = time.perf_counter() - t0
            if tracer is None:
                tracer = Tracer(spark, cores, enabled=trace)
                bench = Bench(wl, seed, work, tracer)
            else:
                tracer.attach(spark)
            recs = bench.setup(spark)
            setups.append(time.perf_counter() - t0)
            starts.append(start_s)
            setup_recs.append(recs)
        jvm_pid = tracer.jvm_pid

        bench.expect()
        bench.mark_cache()
        # warm-up: the first pass after set-up pays class loading, code
        # generation and compilation; its answers are checked, its timings
        # dropped
        tracer.enabled = False
        bench.run_pass(full=trace)

        passes = {False: [], True: []}
        # a traced run makes one traced full pass and one untraced pass (at
        # least), the traced one first; trace_overhead_s compares them over
        # the calls both ran
        order = [True, False] if trace else [False] * MIN_PASSES
        t0 = time.perf_counter()
        took: list[float] = []
        # a pass starts only if, at the median pass time so far, it ends
        # within `seconds` (or the minimum has not been made yet)
        while order or time.perf_counter() - t0 + statistics.median(took) <= seconds:
            settle(spark, bench)
            traced = order.pop(0) if order else (trace and len(passes[True]) <= len(passes[False]))
            tracer.enabled = traced
            t_pass = time.perf_counter()
            passes[traced].append(bench.run_pass(full=traced))
            took.append(time.perf_counter() - t_pass)
        tracer.enabled = False
        rss = peak_rss_mb(jvm_pid)
        if trace:
            tracer.dump(os.path.join(WORK_ROOT, f"spans-{name}-seed{seed}.json"))
    finally:
        if spark is not None:
            stop_session(spark, shutdown_jvm=True)
        shutil.rmtree(work, ignore_errors=True)

    failures = list(bench.failures)
    if tracer.collector_jobs:
        failures.append(f"collector ran {tracer.collector_jobs} Spark jobs")
    report = {"workload": name, "seed": seed, "cores": cores, "trace": trace,
              "inputs": realized_inputs(bench), "attempted": bench.attempted,
              "cache_resets": bench.cache_resets,
              "failures": failures}
    if trace:
        report["per_layer"] = per_layer(passes[True], passes[False], setup_recs, starts)
    else:
        report["end_to_end"] = end_to_end(passes[False], setups, rss)
    return report


def _values(passes: list[dict], fn) -> list[float]:
    out = []
    for recs in passes:
        try:
            v = fn(recs)
        except (KeyError, TypeError):  # the call failed in this pass
            continue
        out.append(float(v))
    return out


def end_to_end(passes: list[dict], setups: list[float], rss: float) -> dict:
    def pr_eps(r):
        # guard the division: a 0-second or failed sample has no rate
        pr = r["_pagerank"]
        s = r["operators.pagerank"]["s"]
        if s <= 0 or not pr["supersteps"]:
            raise KeyError("no rate")
        return pr["edges"] * pr["supersteps"] / s

    series = {"setup_s": setups, "pagerank_eps": _values(passes, pr_eps)}
    for t in ("s", "cpu_s"):
        series[f"run_{t}"] = _values(passes, lambda r: r["_pass"][t])
        series[f"ingest_{t}"] = _values(passes, lambda r: r["sources.conv_edges"][t]
                                        + r["sources.reply_mint"][t])
        for kernel, call in KERNEL_METRICS.items():
            series[f"{kernel}_{t}"] = _values(passes, lambda r, c=call: r[c][t])
    out = {k: summary(v) for k, v in series.items() if v}
    out["peak_rss_mb"] = {"median": rss, "n": 1, "samples": [rss]}
    return out


def per_layer(traced: list[dict], untraced: list[dict], setup_recs: list[dict],
              starts: list[float]) -> dict:
    from workloads import CALLS, FULL_ONLY

    series: dict[str, list[float]] = {}
    for call in CALLS:
        # on superstep_large graph.* run in set-up, not in the pass
        source = traced if any(call in r for r in traced) else setup_recs
        for counter in COUNTER_UNITS:
            series[f"{call}.{counter}"] = _values(source, lambda r: r[call][counter])
    series["operators.pagerank.supersteps"] = _values(
        traced, lambda r: r["_pagerank"]["supersteps"])
    series["operators.pagerank.jobs_per_superstep"] = _values(
        traced, lambda r: r["operators.pagerank"]["jobs"] / r["_pagerank"]["supersteps"])
    for k in ("saves", "save_s", "written_mb"):
        series[f"plans.ckpt.{k}"] = _values(traced, lambda r: r["_ckpt"][k])
    series["session.start_s"] = starts
    out = {k: summary(v) for k, v in series.items() if v}
    # the traced pass without the calls an untraced pass skips (and the
    # collector's reads for them)
    run_t = _values(traced, lambda r: r["_pass"]["s"] - sum(
        r[c]["s"] + r[c]["collect_s"] for c in FULL_ONLY if r.get(c)))
    run_u = _values(untraced, lambda r: r["_pass"]["s"])
    if run_t and run_u:
        d = statistics.median(run_t) - statistics.median(run_u)
        out["trace_overhead_s"] = {"median": d, "n": min(len(run_t), len(run_u)),
                                   "samples": [d]}
    return out


def result_line(report: dict) -> dict:
    units = dict(END_TO_END) if not report["trace"] else per_layer_units()
    got = report["per_layer" if report["trace"] else "end_to_end"]
    metrics = {k: {"value": got[k]["median"], "unit": u} for k, u in units.items() if k in got}
    failed = len(report["failures"])
    return {"correct": failed == 0 and len(metrics) == len(units),
            "attempted": max(report["attempted"], 1),
            "failed": failed, "metrics": metrics}


def print_report(report: dict, line: dict) -> None:
    w = sys.stderr.write
    w(f"# {report['workload']} seed={report['seed']} local[{report['cores']}] "
      f"trace={int(report['trace'])}\n")
    w(f"inputs: {json.dumps(report['inputs'])}\n")
    w(f"passes that left the cache as set-up had it only after a full reset: "
      f"{report['cache_resets']}\n")
    got = report["per_layer" if report["trace"] else "end_to_end"]
    for k, m in line["metrics"].items():
        s = got[k]
        tail = {x: s[x] for x in s if x not in ("median", "samples", "n")}
        extra = " ".join(f"{x}={v:.6g}" for x, v in tail.items())
        w(f"{k:50s} {m['value']:14.6g} {m['unit']:6s} n={s['n']} {extra}\n")
    if not report["trace"]:
        for k, u in REPORT_ONLY.items():
            if k in got:
                w(f"{k + ' (report only)':50s} {got[k]['median']:14.6g} {u:6s} n={got[k]['n']}\n")
    frac = line["failed"] / line["attempted"]
    w(f"{'ops_failed_frac':50s} {frac:14.6g} ratio  ({line['failed']}/{line['attempted']})\n")
    for f in report["failures"]:
        w(f"FAILED: {f}\n")


def run_all(seed: int, seconds: int) -> int:
    """Every workload, untraced then traced, each in its own process."""
    from workloads import WORKLOADS

    ok = True
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            last = proc.stdout.strip().splitlines()[-1:] if proc.stdout else []
            if proc.returncode != 0 or not last:
                print(f"{name} trace={trace}: exit {proc.returncode}")
                ok = False
                continue
            res = json.loads(last[0])
            ok = ok and res["correct"]
            print(f"## {name} trace={trace} correct={res['correct']} "
                  f"ops_failed_frac={res['failed'] / res['attempted']:.6g}")
            for k, m in res["metrics"].items():
                print(f"{name:20s} {k:50s} {m['value']:14.6g} {m['unit']}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "networkit_spark")):
        print(f"networkit_spark not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args.seed, int(args.seconds))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all",
              file=sys.stderr)
        return 2
    try:
        report = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # set-up or session failure: no result to report
        traceback.print_exc()
        return 1
    line = result_line(report)
    os.makedirs(WORK_ROOT, exist_ok=True)
    with open(os.path.join(WORK_ROOT, f"report-{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({"report": report, "result": line}, f)
    print_report(report, line)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
