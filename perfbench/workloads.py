"""The benchmark's workloads: one op each, its spans and its checks.

An op calls the program's public functions only:
``readers.load_table → features.compute_rfm → pipeline.run_full_pipeline``.
In a traced run it records one span per call, and child spans of
``run_full_pipeline`` rebuilt from the stage timings the call returns,
laid end to end from the call's start; the part of the call they do not
cover is an explicit remainder span, ``pipeline.persist``.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

from gen import REFERENCE_CUSTOMERS, REFERENCE_ROWS

K = 4
#: The pipeline's default driver-fit threshold (numpy fit at or below it).
DEFAULT_FIT_THRESHOLD = 250_000


@dataclass(frozen=True)
class Workload:
    name: str
    #: customers the 541,910 input rows are spread over
    customers: int
    #: ``run_full_pipeline``'s driver_fit_threshold
    fit_threshold: int
    #: whether the op persists the fitted model (``model_path``)
    persist: bool
    #: ops run before the timed window, the same number on every run
    warmup_ops: int
    #: ``run_full_pipeline``'s max_iter (300 is its default)
    max_iter: int = 300


WORKLOADS = {
    w.name: w
    for w in (
        # the reference's shape: ~125 rows per customer, numpy fit branch
        Workload("rfm_retail", REFERENCE_CUSTOMERS, DEFAULT_FIT_THRESHOLD, False, 15),
        # same rows over more customers than the threshold: MLlib fit branch,
        # model written on every op. MLlib's iteration count depends on the
        # input's row order, so it is fixed below every count observed
        # (NOTES.md gives the scale, the counts and why)
        Workload("rfm_wide", 30_000, 25_000, True, 6, max_iter=8),
    )
}

#: Child spans of ``pipeline.run_full_pipeline`` in call order; all but the
#: last are keys of ``PipelineResult.timings``, the last is the remainder.
STEPS = ("pipeline.rfm_scale", "pipeline.kmeans_fit", "pipeline.silhouette",
         "pipeline.persist")


class CheckFailed(AssertionError):
    pass


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def run_op(spark, w: Workload, data_dir: str, model_dir: str, tracer, op_id: int):
    """One op: the public calls, timed. Returns (wall seconds, result
    fingerprint, PipelineResult). With a tracer, records the op's spans."""
    from clusterforge_spark.operators.features import compute_rfm
    from clusterforge_spark.pipeline import run_full_pipeline
    from clusterforge_spark.sources.readers import load_table

    clock = tracer.now if tracer is not None else time.perf_counter
    a = clock()
    events = load_table(spark, data_dir, "events")
    b = clock()
    rfm = compute_rfm(events)
    c = clock()
    res = run_full_pipeline(
        spark, rfm, n_rows=REFERENCE_ROWS, k=K, max_iter=w.max_iter,
        driver_fit_threshold=w.fit_threshold,
        model_path=model_dir if w.persist else None,
    )
    d = clock()
    if tracer is not None:
        tracer.add("op", op_id, a, d)
        tracer.add("readers.load_table", op_id, a, b, parent="op")
        tracer.add("features.compute_rfm", op_id, b, c, parent="op")
        tracer.add("pipeline.run_full_pipeline", op_id, c, d, parent="op")
        pos = c
        for step in STEPS[:-1]:
            dur = res.timings[step.split(".", 1)[1]]
            tracer.add(step, op_id, pos, pos + dur, parent="pipeline.run_full_pipeline")
            pos += dur
        tracer.add(STEPS[-1], op_id, pos, d, parent="pipeline.run_full_pipeline",
                   remainder=True)
    fp = (
        res.n_customers,
        tuple(sorted((j, n) for j, n, _ in res.cluster_sizes)),
        res.silhouette,
        res.inertia,
    )
    return d - a, fp, res


def check_op(w: Workload, res, fp, first_fp) -> None:
    """Invariants the generator knows, never a value the engine produced;
    and every op of a run must agree with the run's first op."""
    _check(res.n_customers == w.customers,
           f"n_customers {res.n_customers} != {w.customers}")
    sizes = [n for _, n, _ in res.cluster_sizes]
    _check(len(sizes) == K and min(sizes) > 0, f"cluster sizes {sizes}")
    _check(sum(sizes) == w.customers, f"cluster sizes sum to {sum(sizes)}")
    _check(res.silhouette is not None and -1.0 <= res.silhouette <= 1.0,
           f"silhouette {res.silhouette}")
    # sizes exactly; float scores up to summation order
    _check(first_fp is None or (
        fp[:2] == first_fp[:2]
        and all(math.isclose(x, y, rel_tol=1e-9) for x, y in zip(fp[2:], first_fp[2:]))
    ), f"result {fp} != first op {first_fp}")
