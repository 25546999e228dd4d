"""Benchmark of the gdal_boots_spark engine: one workload, one seed.

    python3 perfbench/run.py --workload join_polygons --seed 1 --seconds 16 --trace 0

Run from the root of a source checkout.  Starts one Spark driver on
``local[N]`` (N = min(2, cores)), builds the workload's seeded inputs
under ``.perfbench_work/`` and warms up (set-up), then runs timed
passes for about ``--seconds``, checking every output against
an independent oracle.  Reported times are steal-adjusted (see
``host.py``).  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  The line before it carries run details (pre-flight
load and stray Spark JVMs, sample counts, the tail percentile, raw
wall, CPU and steal seconds).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import workloads
from host import Clock, peak_rss_mb, preflight, stop_meter
from tracer import Tracer, median_of, summed

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEFAULT_SEED = 1


END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}

PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MB", "setup.warmup_s": "s",
    "build.s": "s", "build.py4j_calls": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec.jobs": "count", "exec.s": "s", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.scheduler_delay_ms": "ms",
    "exec.task_skew": "ratio", "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.failed_tasks": "count",
    "sources.scan_s": "s", "sources.input_bytes": "bytes",
    "spans.extract_s": "s", "spans.geo_rows": "count",
    "functions.cell_assign_s": "s",
    "spatial_join.filter_s": "s", "spatial_join.refine_s": "s", "spatial_join.candidates": "count",
    "spatial_join.pairs": "count", "spatial_join.hit_ratio": "ratio", "spatial_join.refine_rows": "count",
    "python.operators": "count", "python.bytes_sent": "bytes", "python.bytes_returned": "bytes",
    "python.rows": "count", "python.udf_ms": "ms",
    **{f"query.{q}.{k}": u for q in workloads.BOARD_QUERIES for k, u in (("build_s", "s"), ("exec_s", "s"), ("py4j_calls", "count"))},
    **{f"runner.stage_s.{s}": "s" for s in workloads.RUNNER_STAGES},
    **{f"runner.files_written.{s}": "count" for s in workloads.RUNNER_STAGES},
    "runner.files_written": "count", "runner.bytes_written": "bytes",
    "runner.bytes_written_per_doc": "bytes/doc", "runner.lineage_s": "s",
    "runner.resume_s": "s", "runner.invalidate_rerun_s": "s",
    "trace.overhead_ratio": "ratio",
}


# --- Spark lifetime -------------------------------------------------------

def start_spark(cores: int):
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp
    from gdal_boots_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    # a later session in this process must launch a new gateway
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


# --- statistics -----------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest nearest-rank percentile that
    has at least ten samples beyond it, but never below the 90th; with
    fewer than eleven samples no percentile has ten beyond it, and the
    tail is the largest sample."""
    s, n = sorted(samples), len(samples)
    k = max(n - 11, math.ceil(0.9 * n) - 1) if n >= 11 else n - 1
    return s[k], 100.0 * (k + 1) / n


# --- main -----------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("gdal_boots_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a source checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    pre = preflight()
    shutil.rmtree(WORK, ignore_errors=True)
    # two task threads: each task of the polygon join drives a Python
    # worker of its own, and four threads plus their workers on four
    # cores ran that join slower and noisier than two
    cores = max(1, min(2, os.cpu_count() or 1))

    # every set-up part is steal-adjusted (see host.py)
    clock = Clock()
    spark = start_spark(cores)
    jvm = spark.sparkContext._gateway.proc.pid
    session = clock.read()
    try:
        w = workloads.WORKLOADS[args.workload](spark, os.path.join(WORK, args.workload), args.seed)
        # set-up: load inputs, then warm up; the time spent generating
        # inputs and computing the oracle (w.own_s) is the benchmark's,
        # not the program's
        clock = Clock()
        w.prepare()
        load = clock.read()
        own_in_prepare = w.own_s
        clock = Clock()
        warm = w.warmup()
        warming = clock.read()
        session_s = session.adjusted
        load_s = (load.wall - own_in_prepare) * load.granted
        warmup_s = (warming.wall - (w.own_s - own_in_prepare)) * warming.granted
        setup_s = session_s + load_s + warmup_s
        attempted, failed = warm.attempted, warm.failed

        tracer = Tracer(spark) if args.trace else None
        passes, plain, traced = [], [], []
        t_start = time.perf_counter()
        while True:
            use = tracer if (tracer is not None and len(passes) % 2 == 1) else None
            p = w.run_pass(use)
            passes.append(p)
            (traced if use is not None else plain).append(p)
            # stop when one more pass would end nearer past the budget than
            # stopping now falls short of it: about --seconds of passes
            spent = time.perf_counter() - t_start
            walls = [q.extra["timing"].wall for q in passes]
            half_pass = statistics.median(walls) / 2 if walls else 0.0
            if spent + half_pass >= args.seconds and (not args.trace or traced):
                break
            if len(passes) >= 3 and not any(q.samples for q in passes):
                break  # nothing succeeds: stop early, report the failures
        attempted += sum(p.attempted for p in passes)
        failed += sum(p.failed for p in passes)
        samples = w.latencies(passes)

        if args.trace:
            metrics = layer_metrics(w, tracer, traced, plain, session_s, warmup_s)
            attempted += w.probes
            failed += w.probes_failed
        else:
            metrics = e2e_metrics(w, passes, samples, setup_s)
        rss = peak_rss_mb(jvm)
        if args.trace:
            metrics["session.peak_rss_mb"] = rss
            tracer.close()
        detail = {
            "workload": args.workload, "seed": args.seed, "master": f"local[{cores}]",
            "preflight": pre, "passes": len(passes), "samples": len(samples),
            "pass_s": [round(p.wall_s, 4) for p in passes],
            **{f"pass_{k}_s": [round(getattr(p.extra["timing"], k), 4) for p in passes] for k in ("wall", "cpu", "steal")},
            "tail_percentile": tail(samples)[1] if samples else None,
            "failed_ratio": failed / attempted if attempted else 1.0,
            "setup": {"session_s": session_s, "load_s": load_s, "warmup_s": warmup_s},
            "setup_raw": {k: dataclasses.asdict(t) for k, t in (("session", session), ("load", load), ("warmup", warming))},
            "gen_s": w.gen_s, "oracle_s": w.oracle_s, "peak_rss_mb": rss, **w.detail(passes),
        }
    finally:
        stop_spark(spark)
        stop_meter()
        shutil.rmtree(WORK, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }))
    return 0


def e2e_metrics(w, passes, samples, setup_s) -> dict:
    if not samples:
        return {"setup_s": setup_s}
    docs, unit_s = w.throughput(passes)
    value, _ = tail(samples)
    return {
        "setup_s": setup_s,
        "docs_per_s": docs / unit_s,
        "latency_p50_s": statistics.median(samples),
        "latency_tail_s": value,
    }


def layer_metrics(w, tracer, traced, plain, session_s, warmup_s) -> dict:
    m = median_of([summed(p.reads) for p in traced if p.reads])
    walls = [p.wall_s for p in traced], [p.wall_s for p in plain]
    if all(walls):
        m["trace.overhead_ratio"] = statistics.median(walls[0]) / statistics.median(walls[1])
    m["session.start_s"] = session_s
    m["setup.warmup_s"] = warmup_s
    m.update(w.layers(tracer, traced))
    return m


if __name__ == "__main__":
    sys.exit(main())
