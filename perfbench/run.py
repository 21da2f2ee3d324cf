#!/usr/bin/env python3
"""Benchmark of the validation engine, one workload per invocation.

    python3 perfbench/run.py --workload validate_docs --seed 1 --seconds 5 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; a line before it records
the run environment (cores, master, seed, input sizes, host steal, CPU
probe). ``--trace 0`` reports the end-to-end metrics (and, on the line
before the environment, the unbounded wall-clock and memory figures);
``--trace 1`` reports the per-layer ones and writes every span to
``.bench_work/trace-*.json``.

A run: start a session with ``session.get_spark(master=local[nproc])``,
write the seeded inputs, and make the workload's ``warmup_iterations``
untimed iterations (the first also checks every output: one suite call, or
the pass that checks every query against its oracle), all of it counted in
``setup_s``; then time iterations for ``--seconds`` (at least
``TIMED_ITERATIONS``) and report medians. In a traced run, layer probes
replace the warm-up iterations, and one iteration is timed. Every file the
run writes stays in the checkout, under ``.bench_work/`` (and
``.suite_corpus/``, where two of the queries write); all but the trace
file are removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("validate_docs", "queries_sf0.1")
# Timed iterations per untraced run (``--seconds`` is shorter than three
# of them, so every run times exactly three); see ``warmup_iterations`` in
# workloads.py for why these calls.
TIMED_ITERATIONS = 3
# full and self-test sizes per workload
SIZES = {
    "validate_docs": {"full": {"n_docs": 10_000}, "tiny": {"n_docs": 2_000}},
    "queries_sf0.1": {"full": {"sf": 0.1}, "tiny": {"sf": 0.005}},
}
# Bounded end-to-end metrics. Over 10 seeds on a 4-vCPU host with heavy
# steal, wall-clock figures spread 25-40% (IQR/median) and peak RSS ~25%
# (G1 sizes the heap differently run to run), so wall, memory and JIT
# figures are reported unbounded (per-layer, and on the stdout line before
# the result).
END_TO_END = ("setup_s", "cpu_s_p50")
UNITS = {"setup_s": "s", "cpu_s_p50": "s", "peak_rss_mb": "MB", "wall_s_p50": "s",
         "call_s_p50": "s", "call_s_geomean": "s", "throughput_per_s": "1/s",
         "jit_cpu_s_p50": "s"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_mb"):
        return "MB"
    if name.endswith((".s", "_s")):
        return "s"
    return "count"


def make_workload(name, spark, work, seed, checks, size):
    from perfbench.workloads import Queries, ValidateDocs

    cls = ValidateDocs if name == "validate_docs" else Queries
    return cls(spark, os.path.join(work, name), seed, checks, **SIZES[name][size])


def measure(wl, seconds: float, tracer, sampler, min_iterations: int,
            label: str = "iteration") -> list[dict]:
    """Iterations until ``seconds`` have passed (at least ``min_iterations``);
    wall, process-tree CPU, the part of it spent in JIT compiler threads,
    and the tracer's own time per iteration, outputs checked after each."""
    from perfbench.procstat import tree_cpu_s

    out: list[dict] = []
    end = time.perf_counter() + seconds
    while len(out) < min_iterations or time.perf_counter() < end:
        o0 = tracer.overhead_s
        c0, j0, t0 = tree_cpu_s(), sampler.jit_cpu_s(), time.perf_counter()
        calls = wl.iteration(tracer)
        wall = time.perf_counter() - t0
        jit = sampler.jit_cpu_s() - j0
        out.append({"wall": wall, "cpu": tree_cpu_s() - c0, "jit": jit, "calls": calls,
                    "trace": tracer.overhead_s - o0})
        print(f"[perfbench] {label} {len(out)}: {wall:.2f} s wall, "
              f"{out[-1]['cpu']:.2f} s cpu ({jit:.2f} s jit)", file=sys.stderr, flush=True)
        wl.verify()
    return out


def summarize(wl, its: list[dict], setup_s: float, peak_mb: float) -> dict:
    calls = [c for it in its for c in it["calls"]]
    per_name: dict = {}
    for name, s in calls:
        per_name.setdefault(name, []).append(s)
    geomean = math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in per_name.values()))
    return {
        "setup_s": setup_s,
        "wall_s_p50": statistics.median(it["wall"] for it in its),
        "cpu_s_p50": statistics.median(it["cpu"] for it in its),
        "peak_rss_mb": peak_mb,
        "call_s_p50": statistics.median(s for _, s in calls),
        "call_s_geomean": geomean,
        "throughput_per_s": statistics.median(
            wl.units(it["calls"]) / it["wall"] for it in its),
        "jit_cpu_s_p50": statistics.median(it["jit"] for it in its),
    }


def cpu_probe(spark, nproc: int) -> float:
    """bench.py's xxhash64 probe, scaled down: host CPU speed, a diagnostic
    that never rescales a metric."""
    def q(n):
        spark.range(0, n * nproc, 1, nproc * 2).selectExpr(
            "sum(xxhash64(id, id+1, id+2)/1e9)").collect()
    q(1_000_000)
    t0 = time.perf_counter()
    q(10_000_000)
    return time.perf_counter() - t0


def traced(wl, other, spark, seconds: float, sampler) -> tuple[dict, object]:
    """Per-layer metrics, with every span recorded. A traced run makes no
    untimed iterations, because it must also hold a pass over all 50
    queries (~80 s) within three minutes. In order: one iteration of this
    workload (in a docs run, the first, checked suite call, so it runs
    cold and also stands for the suite layer), the layers of the docs
    family, and those of the queries family. The other family runs on a
    small input of its own."""
    from perfbench.trace import COUNTERS, Tracer
    from perfbench.workloads import ValidateDocs

    tracer = Tracer(spark, True)
    other.prepare()
    docs, queries = (wl, other) if isinstance(wl, ValidateDocs) else (other, wl)
    if wl is queries:
        wl.warmup()  # the oracle check
    its = measure(wl, seconds, tracer, sampler, 1)
    iters = [s for s in tracer.spans if s["name"] == "iteration"]
    metrics = {f"spark.{k}": statistics.median(s["counters"][k] for s in iters)
               for k in COUNTERS}
    metrics.update({k: v for k, v in summarize(wl, its, 0.0, 0.0).items()
                    if k not in END_TO_END})
    metrics["trace.overhead_s"] = statistics.median(it["trace"] for it in its)
    metrics.update(docs.layers(tracer, iters[0] if wl is docs else None))
    metrics.update(queries.layers(tracer))
    return metrics, tracer


def shutdown(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process this run started."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids

    started = tree_pids()[1:]
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def alive() -> list[int]:
        out = []
        for pid in started:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    state = fh.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                out.append(pid)
        return out

    deadline = time.time() + 60
    while alive() and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive():
        os.kill(pid, signal.SIGKILL)


def run(workload: str, seed: int, seconds: float, trace: bool, size: str,
        plant_mismatch: bool) -> dict:
    t_start = time.perf_counter()
    # the program must be importable from here; a bare benchmark dir fails now
    from logdata_anomaly_miner_spark.session import get_spark

    from perfbench.procstat import TreeSampler, host_steal_s
    from perfbench.trace import Tracer
    from perfbench.workloads import Checks, logged, remove_query_artifacts

    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{workload}-seed{seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    checks = Checks()
    other_name = next(w for w in WORKLOADS if w != workload)
    try:
        with TreeSampler() as sampler:
            spark = get_spark(app_name="perfbench", master=master)
            try:
                wl = make_workload(workload, spark, work, seed, checks, size)
                print(f"[perfbench] session: {time.perf_counter() - t_start:.2f} s",
                      file=sys.stderr, flush=True)
                with logged("inputs"):
                    sizes = wl.prepare()
                if plant_mismatch:
                    wl.plant_mismatch()
                if not trace:  # a traced run checks outputs in ``traced``
                    wl.warmup()
                    measure(wl, 0, Tracer(spark, False), sampler, wl.warmup_iterations - 1,
                            "warm-up")
                setup_s = time.perf_counter() - t_start
                steal0 = host_steal_s()
                if trace:
                    other = make_workload(other_name, spark, work, seed, checks, "tiny")
                    metrics, tracer = traced(wl, other, spark, seconds, sampler)
                    trace_path = os.path.join(bench_dir, f"trace-{workload}-seed{seed}.json")
                else:
                    its = measure(wl, seconds, Tracer(spark, False), sampler, TIMED_ITERATIONS)
                steal = host_steal_s() - steal0
                probe = cpu_probe(spark, nproc)
                if trace:
                    metrics["host.steal_s"], metrics["host.cpu_probe_s"] = steal, probe
                    metrics["peak_rss_mb"] = sampler.peak_mb
                    tracer.dump(trace_path, {"workload": workload, "seed": seed})
            finally:
                shutdown(spark)
        if not trace:
            metrics = summarize(wl, its, setup_s, sampler.peak_mb)
            print(json.dumps({"unbounded": {
                k: metrics.pop(k) for k in list(metrics) if k not in END_TO_END}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        remove_query_artifacts()
    env = {"nproc": nproc, "master": master, "seed": seed, "workload": workload,
           "inputs": sizes, "setup_s": setup_s, "host.steal_s": steal,
           "host.cpu_probe_s": probe}
    if trace:
        env["trace_file"] = os.path.relpath(trace_path, ROOT)
    print(json.dumps({"env": env}))
    return {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only (perfbench/selftest.py)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant-mismatch", action="store_true")
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop Spark and the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 args.size, args.plant_mismatch)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main())
