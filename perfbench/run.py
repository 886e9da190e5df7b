#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rfm_retail --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` (removed when the run ends), starts
its own Spark session, warms up with a fixed number of ops, then issues
ops in a closed loop (one client, each op after the previous one ends)
for ``--seconds`` seconds and checks every op's output.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics and writes the spans to
``.perfbench_out/``. The line before it holds the run's details (sample
counts, per-op times, tail percentile, input generation time). The exit
code is 0 only when every op passed its checks; it is 2 when the program
cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from tracing import RssPeak, Tracer, children  # noqa: E402
from workloads import K, WORKLOADS, CheckFailed, check_op, run_op  # noqa: E402

#: Box-fitting settings, applied through the program's own environment
#: knobs and spark-submit arguments: shuffle partitions fixed so the plan
#: does not depend on the host, and a fixed-size driver heap (initial =
#: maximum) that fits a 15 GiB host, touched in full at start, so the JVM's
#: resident size does not depend on when its collector chose to grow the
#: heap or how many heap regions it had used yet.
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"

FIELDS = ("wall_s", "jobs", "stages", "tasks", "failed_tasks", "gc_s", "driver_cpu_s")
UNITS = {"wall_s": "s", "gc_s": "s", "driver_cpu_s": "s"}

#: The per-layer metrics a traced run reports: span -> fields, each the
#: median over the run's timed ops, except ``gc_s``, the mean: collections
#: are rare enough that the median op has none (NOTES.md says which
#: end-to-end metric each should move). The ``pipeline.*`` steps are
#: rebuilt from the call's own timings and have no CPU or GC reading; the
#: trace file and the details line hold every field of every span.
PER_LAYER = {
    "session.get_spark": ("wall_s", "jobs", "tasks", "gc_s", "driver_cpu_s"),
    "op": FIELDS,
    "readers.load_table": ("wall_s", "driver_cpu_s"),
    "features.compute_rfm": ("wall_s", "driver_cpu_s"),
    "pipeline.run_full_pipeline": ("gc_s", "driver_cpu_s"),
    "pipeline.rfm_scale": ("wall_s", "jobs", "stages", "tasks"),
    "pipeline.kmeans_fit": ("wall_s", "jobs", "stages", "tasks"),
    "pipeline.silhouette": ("wall_s", "jobs", "tasks"),
    "pipeline.persist": ("wall_s", "jobs", "tasks"),
    "clustering.fit_kmeans": ("wall_s", "jobs", "kmeans_iters"),
}


def process_start() -> float:
    """``time.perf_counter()`` value of this process's start: now minus
    the process's age, both read at the same point."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_SHUFFLE=str(SHUFFLE_PARTITIONS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        # caps glibc's per-thread malloc arenas, a usual source of JVM
        # resident-size variation between identical runs
        MALLOC_ARENA_MAX="2",
        TMPDIR=f"{work}/tmp",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.sql.warehouse.dir={work}/warehouse "
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={work}/tmp' "
            "pyspark-shell"
        ),
    )
    tempfile.tempdir = f"{work}/tmp"


def tail(values: list[float]) -> dict | None:
    """Highest whole percentile with at least 10 samples above it."""
    n = len(values)
    if n < 20:
        return None
    p = math.floor(100 * (n - 10) / n)
    rank = math.ceil(p / 100 * n)
    return {"p": p, "value": sorted(values)[rank - 1], "n": n}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    # the JVM's own children (Python workers) end when it does
    deadline = time.monotonic() + 15
    while children(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def span_summary(tracer: Tracer) -> dict[str, dict]:
    """Per span name: the median of each field over its spans (the mean
    for ``gc_s``)."""
    out: dict[str, dict] = {}
    for name in dict.fromkeys(s["name"] for s in tracer.spans):
        rows = [s for s in tracer.spans if s["name"] == name]
        out[name] = {
            f: (statistics.fmean if f == "gc_s" else statistics.median)(r[f] for r in rows)
            for f in (*FIELDS, "kmeans_iters") if f in rows[0]
        }
        out[name]["n"] = len(rows)
    return out


def direct_fit(spark, tracer: Tracer, w, data_dir: str, op_id: int) -> None:
    """One traced ``clustering.fit_kmeans`` call on the run's input, for
    the MLlib iteration count the pipeline result does not expose."""
    from clusterforge_spark.operators import clustering, features
    from clusterforge_spark.pipeline import ZCOLS
    from clusterforge_spark.sources.readers import load_table

    scaled = features.scale_features(features.compute_rfm(load_table(spark, data_dir, "events")))
    group = f"fit{op_id}"
    spark.sparkContext.setJobGroup(group, group)
    a = tracer.now()
    res = clustering.fit_kmeans(scaled, k=K, max_iter=w.max_iter, cols=ZCOLS)
    b = tracer.now()
    tracer.add("clustering.fit_kmeans", op_id, a, b,
               kmeans_iters=int(res.model.summary.numIter))
    tracer.finish(spark, group)


def run(args, work: str) -> int:
    from clusterforge_spark.session import get_spark

    w = WORKLOADS[args.workload]
    t_start = process_start()
    data_dir, model_dir = f"{work}/data", f"{work}/model"
    os.makedirs(data_dir)
    t = time.perf_counter()
    planted = gen.write_events(f"{data_dir}/events.parquet", args.seed,
                               gen.REFERENCE_ROWS, w.customers)
    gen_s = time.perf_counter() - t

    # traced runs report no peak RSS, so they run no sampler
    rss = None if args.trace else RssPeak().start()
    tracer = Tracer() if args.trace else None
    a = tracer.now() if tracer else 0.0
    spark = get_spark(app_name="perfbench")
    if tracer:
        tracer.add("session.get_spark", -1, a, tracer.attach(spark))
        tracer.finish(spark, None)
    spark.sparkContext.setLogLevel("ERROR")

    first_fp, failures, walls = None, [], []
    ok = attempted = 0

    def op(op_id: int, traced: bool) -> float:
        nonlocal first_fp, ok, attempted
        attempted += 1
        group = f"op{op_id}"
        if traced:
            spark.sparkContext.setJobGroup(group, group)
        wall = time.perf_counter()
        try:
            wall, fp, res = run_op(spark, w, data_dir, model_dir,
                                   tracer if traced else None, op_id)
            check_op(w, res, fp, first_fp)
            first_fp = first_fp or fp
            ok += 1
        except CheckFailed as e:
            failures.append(f"op {op_id}: {e}")
        except Exception as e:  # a raising op counts as not ok
            wall = time.perf_counter() - wall
            failures.append(f"op {op_id}: {type(e).__name__}: {e}")
        if traced:
            tracer.finish(spark, group)
        return wall

    warmup = [op(-2 - i, False) for i in range(w.warmup_ops)]
    setup_s = time.perf_counter() - t_start - gen_s

    t_w = time.perf_counter()
    while time.perf_counter() - t_w < args.seconds:
        walls.append(op(len(walls), bool(tracer)))
    window_s = time.perf_counter() - t_w
    if tracer:
        direct_fit(spark, tracer, w, data_dir, len(walls))

    stop_spark(spark)

    details = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "gen_s": gen_s, "warmup_walls_s": warmup, "timed_ops": len(walls),
        "op_walls_s": walls, "window_s": window_s, "op_tail_s": tail(walls),
        "planted_segments": sorted(planted),
        "cluster_sizes": sorted(n for _, n in first_fp[1]) if first_fp else None,
        # compared with the reference's published figures in NOTES.md
        "silhouette": first_fp[2] if first_fp else None,
        "inertia_per_customer": first_fp[3] / first_fp[0] if first_fp else None,
        "failures": failures[:5],
    }
    if tracer:
        details["spans"] = summary = span_summary(tracer)
        metrics = {
            f"{name}.{f}": {"value": summary[name][f], "unit": UNITS.get(f, "count")}
            for name, fields in PER_LAYER.items() for f in fields
        }
        path = f"{ROOT}/.perfbench_out/trace-{w.name}-seed{args.seed}.json"
        tracer.write(path)
        details["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": statistics.median(walls), "unit": "s"},
            "throughput_per_s": {"value": gen.REFERENCE_ROWS * len(walls) / window_s,
                                 "unit": "rows/s"},
            "peak_rss_mb": {"value": rss.stop() / 2**20, "unit": "MB"},
            "ok_rate": {"value": ok / attempted, "unit": "ratio"},
        }
    print(json.dumps(details))
    failed = attempted - ok
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = f"{ROOT}/.perfbench_work/{args.workload}-{os.getpid()}"
    configure_env(work)
    try:
        try:
            import clusterforge_spark.session  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
            return 2
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
