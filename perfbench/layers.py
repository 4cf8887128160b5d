"""Per-layer metrics for the traced run.

Spans are taken by the benchmark around public calls (setup layouts,
catalog build, materialize); Spark execution is read back from the
event log by job group (eventlog.py); the engine's own accumulators
(``plans.metrics``) give the Python-kernel split; ``core.covertree`` is
timed directly on seeded blocks. Values over warm executions are given
per warm pass (sums divided by the number of passes) unless named as a
peak, a ratio or a median.
"""

from __future__ import annotations

import os
import statistics
import time
import tracemalloc

import numpy as np

import eventlog
from workloads import LAYOUTS

# core.covertree blocks: (name, rows, dims, ball radius). Sized like one
# cell's tree block at benchmark scale: a 3-d unit-sphere patch and a
# 64-d uniform-on-sphere block.
BLOCKS = (("sphere3", 1500, 3, 0.05), ("uniform64", 500, 64, 1.1))
KNN_K = 10
# job groups of the set-up steps, each reported as <step>.driver_only_s
SETUP_STEPS = ("setup:sources", *(f"setup:{k}" for k in LAYOUTS), "index:geo")


def _block(rng: np.random.Generator, n: int, d: int) -> np.ndarray:
    x = rng.normal(size=(n, d))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _covertree_pass(blocks) -> dict[str, float]:
    from covertree_spark.core import covertree as ct

    out = {"covertree.build_s": 0.0, "covertree.knn_s": 0.0,
           "covertree.radius_s": 0.0}
    comps0 = ct.DIST_COMPS
    for x, r in blocks:
        ids = np.arange(len(x), dtype=np.int64)
        t = time.perf_counter()
        tree = ct.build(x)
        out["covertree.build_s"] += time.perf_counter() - t
        t = time.perf_counter()
        ct.knn_query(tree, x, x, KNN_K, exclude_self_ids=ids, point_ids=ids)
        out["covertree.knn_s"] += time.perf_counter() - t
        t = time.perf_counter()
        ct.radius_query(tree, x, x, r)
        out["covertree.radius_s"] += time.perf_counter() - t
    out["covertree.dist_comps"] = ct.DIST_COMPS - comps0
    return out


def covertree_blocks(seed: int) -> dict[str, float]:
    """Time build / knn_query / radius_query on seeded blocks, then
    repeat under tracemalloc for the peak Python-heap allocation (numpy
    buffers included). Timings come from the untraced pass."""
    rng = np.random.default_rng([seed, 7])
    blocks = [(_block(rng, n, d), r) for _name, n, d, r in BLOCKS]
    out = _covertree_pass(blocks)
    tracemalloc.start()
    try:
        _covertree_pass(blocks)
        out["covertree.peak_alloc_mb"] = tracemalloc.get_traced_memory()[1] / 2**20
    finally:
        tracemalloc.stop()
    return out


def du_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def trace_metrics(run, warm_passes: list[float], lat: list[float]) -> dict:
    groups = eventlog.fold(eventlog.log_files(run.log_dir))
    empty = eventlog.GroupRecord()
    n_pass = len(warm_passes)
    out: dict[str, float] = {}

    # setup: which part of each layout's time is Spark jobs and which is
    # driver-only work between them
    lo, hi = run.setup_span
    setup = [g for name, g in groups.items() if name.startswith("setup:")]
    jobs_s = eventlog.GroupRecord(jobs=[j for g in setup for j in g.jobs])
    out["setup.jobs_s"] = jobs_s.job_union_s(lo, hi)
    out["setup.driver_only_s"] = (hi - lo) - out["setup.jobs_s"]
    out["setup.executor_cpu_s"] = sum(g.executor_cpu_s for g in setup)
    # driver-only share of each setup step: its wall minus its jobs
    for step in SETUP_STEPS:
        a, b = run.spans.get(step, (0.0, 0.0))
        g = groups.get(step, empty)
        out[f"{step.replace(':', '.')}.driver_only_s"] = (b - a) - g.job_union_s(a, b)
    out["partition.shuffle_write_bytes"] = sum(
        groups.get(f"setup:{k}", empty).shuffle_write_bytes for k in LAYOUTS)

    warm = [r for r in run.execs if r["phase"] == "warm"]
    per_pass = dict.fromkeys(
        ("queries.build_s", "queries.build_jobs", "spark.jobs", "spark.stages",
         "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
         "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
         "spark.spill_bytes", "spark.driver_only_s", "udf.wall_s",
         "udf.dist_comps", "udf.cand_bytes"), 0.0)
    skews, rows_q = [], []
    for r in warm:
        g = groups.get(r["group"], empty)
        wall = r["t1"] - r["t0"]
        jobs = g.job_union_s(r["t0"], r["t1"])
        rows_q.append((r["name"], wall, r["t_build"] - r["t0"], jobs, wall - jobs))
        per_pass["queries.build_s"] += r["t_build"] - r["t0"]
        per_pass["queries.build_jobs"] += sum(a < r["t_build"] for a, _ in g.jobs)
        per_pass["spark.jobs"] += len(g.jobs)
        per_pass["spark.stages"] += g.stages
        per_pass["spark.tasks"] += g.tasks
        per_pass["spark.executor_run_s"] += g.executor_run_s
        per_pass["spark.executor_cpu_s"] += g.executor_cpu_s
        per_pass["spark.gc_s"] += g.gc_s
        per_pass["spark.shuffle_read_bytes"] += g.shuffle_read_bytes
        per_pass["spark.shuffle_write_bytes"] += g.shuffle_write_bytes
        per_pass["spark.spill_bytes"] += g.spill_bytes
        per_pass["spark.driver_only_s"] += wall - jobs
        per_pass["udf.wall_s"] += r["udf_wall_s"]
        per_pass["udf.dist_comps"] += r["dist_comps"]
        per_pass["udf.cand_bytes"] += r["cand_bytes"]
        skews.append(g.stage_skew())
    out.update({k: v / n_pass for k, v in per_pass.items()})
    out["spark.stage_skew"] = statistics.median(skews)

    knn = [r for r in warm if "knn" in r["name"]]
    knn_rows = sum(r["rows"] for r in knn)
    out["knn.dist_comps_per_row"] = (
        sum(r["dist_comps"] for r in knn) / knn_rows if knn_rows else 0.0)
    out["knn.cand_bytes_per_row"] = (
        sum(r["cand_bytes"] for r in knn) / knn_rows if knn_rows else 0.0)
    out["workers.peak_rss_mb"] = max(r["workers_mb"] for r in run.execs)
    out["session.persisted_after_release"] = max(
        r["persisted"] for r in run.execs) - run.baseline
    out["traced.warm_pass_s"] = statistics.median(warm_passes)
    out["traced.latency_p50_s"] = statistics.median(lat)

    print("# per query, median over warm executions: "
          "wall_s build_s jobs_s driver_only_s")
    for name in run.w.queries:
        mine = [q[1:] for q in rows_q if q[0] == name]
        med = [statistics.median(col) for col in zip(*mine)]
        print(f"#   {name:<18} " + " ".join(f"{v:8.3f}" for v in med))
    return out
