"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One closed-loop client: this process drives
one SparkSession on ``local[<cores>]`` and sends each op only after the
previous one finished. The run writes its inputs from the seed, sets the
session up once from a cold start, warms up (checking outputs), then runs
whole passes of the workload until ``--seconds`` have passed. The last stdout
line is the result JSON; the line before it holds the details (per-op
latencies, the tail percentile, the fail ratio, input rows per second, the
per-layer figures of one workload and the host weather).

With ``--trace 1`` the passes alternate untraced and traced, the result
carries the per-layer metrics of the traced passes, and the spans are
written once, at the end, to ``perfbench/.work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from harness import (
    median,
    process_start_epoch,
    process_tree,
    self_times,
    tail,
    tail_level,
    tree_cpu_s,
    tree_peak_rss_mb,
    weather,
)
from tracing import (
    Tracer,
    layer_self_times,
    progress_listener,
    read_status_store,
    spark_layer_metrics,
)
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The metrics BENCHMARK.json names, with their units: end to end (untraced
#: runs) and per layer (traced runs).
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "session.build_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.idle_core_s": "s", "spark.task_p50_s": "s",
    "spark.task_max_s": "s", "spark.input_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.output_mb": "MB",
    "ops.self_s": "s", "calls.self_s": "s", "trace.overhead": "ratio",
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def host_env(work: str) -> int:
    """Size the engine to this host and keep every file it writes under
    ``work``. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, total_mb // 4)}m",
        # Python workers import the package for pandas UDFs
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
    })
    time.tzset()
    os.chdir(work)
    return cores


def build(work: str):
    from bfs_etl_sep2025_spark.session import build_spark

    return build_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })


def stop(spark) -> None:
    """Stop the session and the JVM, and wait until every child exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def run_passes(spark, w, tracer, seconds: float, trace: bool):
    """Whole passes until ``seconds`` have passed and at least
    ``w.min_passes`` ran. With ``trace`` every second pass is traced, from
    three passes up and always an odd number: the untraced passes on both
    sides of a traced one cancel drift out of the tracing overhead. Returns
    [(traced, wall_s, cpu_s, ops)] and the listener."""
    listener = progress_listener() if trace else None
    passes: list = []
    need = 3 if trace else w.min_passes
    deadline = time.perf_counter() + seconds
    while (len(passes) < need or time.perf_counter() < deadline
           or (trace and len(passes) % 2 == 0)):
        traced = trace and len(passes) % 2 == 1
        tracer.enabled = traced
        if traced:
            spark.streams.addListener(listener)
        c0, p0 = tree_cpu_s(), time.perf_counter()
        ops = w.run_pass(spark)
        wall, cpu = time.perf_counter() - p0, tree_cpu_s() - c0
        if traced:
            spark.streams.removeListener(listener)
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if not ops:
            break
        passes.append((traced, wall, cpu, ops))
    tracer.enabled = False
    return passes, listener


def layer_metrics(spark, w, tracer, passes, listener, build_s, cores, detail) -> dict:
    """The per-layer metrics of the traced passes; workload-specific ones
    go to ``detail``."""
    jobs, stages = read_status_store(spark)
    metrics = spark_layer_metrics(tracer, jobs, stages, cores)
    detail["spark"] = {k: v for k, v in metrics.items() if k not in PER_LAYER}
    traced = [p for p in passes if p[0]]
    untraced = [p for p in passes if not p[0]]
    metrics["session.build_s"] = build_s
    metrics["trace.overhead"] = (
        median([p[1] for p in traced]) / median([p[1] for p in untraced]) - 1)
    st = self_times(tracer.spans)
    ops = [s for s in tracer.spans if s.name.startswith("op:")]
    calls = [s for s in tracer.spans if not s.name.startswith(("op:", "spark.job"))]
    metrics["ops.self_s"] = sum(st[s.span_id] for s in ops) / len(ops)
    metrics["calls.self_s"] = sum(st[s.span_id] for s in calls) / len(ops)
    kids: dict = {}
    for s in tracer.spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree_self(s) -> float:
        return st[s.span_id] + sum(subtree_self(c) for c in kids.get(s.span_id, []))

    detail["self_le_wall"] = all(subtree_self(s) <= s.duration + 1e-9 for s in ops)
    detail["layers"] = w.layer_metrics(tracer, traced, listener, layer_self_times(tracer))
    traces = os.path.join(HERE, ".work", "traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, f"{tracer.run_id}.json"), "w") as f:
        json.dump([s.__dict__ for s in tracer.spans], f)
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description="pyspark-etl-engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "bfs_etl_sep2025_spark", "__init__.py")):
        _log(f"the engine package is not under {ROOT}; run from a full checkout")
        return 2
    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    sys.path.insert(0, ROOT)

    t_proc = process_start_epoch()
    weather_start = weather()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cores = host_env(work)
    tracer = Tracer(f"{args.workload}-{args.seed}", enabled=False)
    w = WORKLOADS[args.workload](work, args.seed, tracer)
    spark = None
    try:
        t0 = time.time()
        w.generate()
        gen_s = time.time() - t0
        t0 = time.time()
        spark = build(work)
        build_s = time.time() - t0
        spark.range(1).collect()
        w.prepare(spark)
        tracer.spark = spark
        t0 = time.time()
        w.warmup(spark)
        warmup_s = time.time() - t0
        # one cold set-up: from process start (JVM launch included) to the
        # end of the warm-up, input generation excluded
        setup_s = time.time() - t_proc - gen_s

        passes, listener = run_passes(spark, w, tracer, args.seconds, bool(args.trace))
        peak_rss = tree_peak_rss_mb()
        w.final_check(spark)

        untraced = [p for p in passes if not p[0]]
        lat = [dt for p in untraced for _, dt, _ in p[3]]
        attempted = sum(len(p[3]) for p in passes)
        ops_failed = sum(1 for p in passes for _, _, ok in p[3] if not ok)
        failed = min(attempted, ops_failed + len(w.failures))
        wall_total = sum(p[1] for p in untraced)
        detail = {
            "workload": w.name, "seed": args.seed, "cores": cores,
            "passes": len(untraced), "ops": len(lat),
            "pass_wall_s": [p[1] for p in untraced], "pass_cpu_s": [p[2] for p in untraced],
            "op_s": {name: sorted(dt for p in untraced for n, dt, _ in p[3] if n == name)
                     for name in dict.fromkeys(n for p in untraced for n, _, _ in p[3])},
            "gen_s": gen_s, "build_s": build_s, "warmup_s": warmup_s,
            "fail_ratio": failed / attempted, "failures": w.failures[:10],
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
            "weather_start": weather_start, "weather_end": weather(),
        }
        pct = tail_level(len(lat))
        if pct is None:
            detail["op_tail_s"] = f"omitted: {len(lat)} ops leave no percentile with 10 beyond"
        else:
            value, beyond = tail(lat, pct)
            detail["op_tail_s"] = {"value": value, "unit": "s",
                                   "percentile": pct, "beyond": beyond}
        if hasattr(w, "rows_loaded"):
            detail["rows_per_s"] = {"value": w.rows_loaded(untraced) / wall_total,
                                    "unit": "rows/s"}
        if args.trace:
            metrics = layer_metrics(spark, w, tracer, passes, listener, build_s, cores, detail)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall_total / len(untraced),
                "cpu_s": sum(p[2] for p in untraced) / len(untraced),
                "op_p50_s": median(lat),
            }
            detail["op_p50_samples"] = len(lat)
            units = END_TO_END
    finally:
        if spark is not None:
            stop(spark)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
