#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "q/s", "queries": {...}, "sf": ...}

Measurement protocol (round-4 VERDICT #1 — the bracketed discipline
scaling.py already uses):

  * ALTERNATING FULL PASSES, not per-query rep loops: pass 0 is cold
    (plan compile + python-worker spin-up, also the dist_comps /
    udf_wall_s source); passes 1..P-1 are warm. A query's warm time is
    the min across passes, so a noisy-host window hits ONE pass of
    every query instead of every rep of one query — r4's 1.7-2.75x
    "regressions" were exactly min-of-3-in-one-window landing inside
    an interference burst.
  * BRACKETED HOST PROBES: a fixed pure-numpy GEMM-top-k kernel
    (memory-bus-bound, the same resource the engine's kernels contend
    on) runs before/between/after the warm passes. The probe spread
    (max/min) is the in-run interference measurement: a query whose
    warm time regresses while the probes are flat is a real
    regression; one whose window shows probe spread >> 1 is host
    noise, and the artifact now proves which.
  * LOSS-PROOF ARTIFACT: the full JSON (per-pass times, probes, IVF
    sweep) is WRITTEN TO BENCH/last_bench.json; stdout carries a
    compact line (headline + warm times) sized well inside the
    driver's tail capture — BENCH_r04.json was parsed:null because
    the one stdout line outgrew it.

The headline metric is exact-kNN throughput (queries/sec, k=10) — the
BASELINE.json target. Scaling-efficiency evidence (local[8] vs
local[32]) lives in scaling.py -> BENCH/BASELINE.md.

Per query the report also carries the reference's efficiency metrics
(include/point_vector.h:11, dist_point_vector.h:23-25): ``dist_comps``
(metric evaluations) and ``udf_wall_s`` (total wall seconds inside
pandas-UDF kernels across all tasks — the comp side).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from covertree_spark import queries as Q  # noqa: E402
from covertree_spark.plans import metrics as M  # noqa: E402
from covertree_spark.plans.session import (  # noqa: E402
    ReleaseScope,
    get_spark,
    host_cpus,
    release_intermediates,
)

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = host_cpus()
# total passes (1 cold + N-1 warm); 4 warm passes spread across the
# run give min-of-4 with interleaved noise exposure
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

BENCH_QUERIES = [
    "geo_knn",
    "geo_knn_filtered",
    "knn_over_index",
    "geo_ball_join",
    "geo_haversine_join",
    "emb_knn",
    "emb_ball_join",
    "cosine_topk",
    "emb_neardup",
    "dedup_exact",
    "ngram_jaccard",
    "minhash_neardup",
    "simhash_neardup",
    "tile_histogram",
    "tile_pyramid",
    "tile_regions",
    "pip_convex",
    "repetition",
    "events_asof",
    "decontaminate",
    "doc_top_term",
    "oov_rate",
    "quantiles",
    "zonal_stats",
    "lang_top_docs",
    "geo_hull",
    # round-5 additions: clustering / graph analytics / curation ops
    "geo_dbscan",
    "geo_rknn",
    "geo_closest_pair",
    "neardup_groups",
    "knn_classify",
    "bigrams",
    "semdedup_keep",
    "geo_isolated",
    "knn_regress",
    "tile_focal_sum",
    "tile_mode_resample",
    "poly_overlap",
    "geo_walk_mass",
    "host_stats",
    # trajectory analytics + sub-document dedup
    "user_travel",
    "user_trips",
    "travel_speed",
    "chunk_dedup",
    # co-location, geofences, postings build
    "colocation_pairs",
    "geofence_transitions",
    "inverted_index",
    "term_search",
    "od_matrix",
    "geofence_dwell",
    # mobility analytics: dispersion, stays, direction, bursts, co-visits
    "user_rog",
    "stay_points",
    "bearing_hist",
    "cell_bursts",
    "covisit_pairs",
    # raster spatial stats (LISA quadrants, distance transform)
    "tile_lisa",
    "tile_proximity",
    # second-order spatial stats + trajectory resampling
    "ripley_k",
    "gfunction",
    "traj_interp",
    # cross-table NN join (external query set over the events layout)
    "nn_event",
    # round-5 batch: preference/raster/graph/interval additions
    "geo_skyline",
    "tile_gradient",
    "tile_interp",
    "mutual_knn",
    "knn_outlier",
    "session_overlap",
    "geohash_assign",
    "buffer_join",
    "geo_sssp",
    "emb_quantize",
    "fuzzy_join",
    "cross_k",
    "tile_moran",
    "cell_trend",
    "tile_contours",
    "tile_compare",
    "tile_median",
    "geo_kcore",
    "lang_confusion",
    "user_gini",
    "events_cube",
    "geo_assortativity",
    "region_moments",
    "cell_cover",
    "url_dedup",
    "cell_medoid",
    "curation_pipeline",
    "event_knn",
    "cell_diurnal",
    "user_home",
    "len_hist",
    "lang_prf",
    "tile_quantiles",
    "user_cadence",
    "tile_top_docs",
    "gap_hist",
    "host_lang_matrix",
    "user_span",
    # NOT benched: traj_coverage — its radius (TRAJ_R) is calibrated
    # against the sf0.01 chord-distance spectrum for the oracle gate;
    # at sf0.1 the same ball is density-pathological (edge blow-up),
    # so benching it there would measure a mis-parameterized query,
    # not the engine. Ball-join cost at sf0.1 is already covered by
    # geo_ball_join / emb_ball_join / emb_neardup.
]


_PROBE_STATE: tuple | None = None


def host_probe() -> float:
    """Seconds for a FIXED memory-bus-bound kernel (GEMM into a
    preallocated 245 MB block + two streaming passes) — the in-run
    interference gauge. Single process: external tenants inflate this
    number exactly as they inflate the engine's pandas-UDF kernels.

    ZERO allocations after the first call: every buffer (including the
    GEMM output) is retained and reused. This matters on this host —
    mmap'd numpy temporaries pay first-touch page faults at ~15 MB/s
    (pathological), and the first bench under the bracketed protocol
    showed a fresh-allocating probe costing 20-55s/call AND inflating
    the immediately-following query ~2x (mmap/munmap churn). The probe
    must measure the bus, not the allocator."""
    global _PROBE_STATE
    if _PROBE_STATE is None:
        rng = np.random.default_rng(7)
        H = np.ascontiguousarray(rng.normal(size=(64, 30000)))
        Qm = rng.normal(size=(1024, 64))
        d2 = np.zeros((1024, 30000))
        hh = (H * H).sum(0)
        qq = (Qm * Qm).sum(1)
        np.dot(Qm, H, out=d2)  # fault the block in once (warmup)
        _PROBE_STATE = (H, Qm, d2, hh, qq)
    H, Qm, d2, hh, qq = _PROBE_STATE
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        np.dot(Qm, H, out=d2)
        d2 *= -2.0
        d2 += qq[:, None]
        d2 += hh[None, :]
        s = float(d2.min(axis=1).sum())  # streaming reduce, no alloc
        best = min(best, time.perf_counter() - t0)
    assert np.isfinite(s)
    return round(best, 4)


def main() -> None:
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="covertree-bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    cat = Q.catalog()

    # warmup: JVM, python workers, parquet footers — not part of any
    # query's cost at a real deployment (long-lived session)
    for t in ("documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    cat["tile_assign"][0](spark, SF_DIR).count()

    # prepared layouts (cell assignment + aligned persisted points +
    # broadcast stats) AND the one-time warehouse index build are the
    # amortized ingest/build phase — timed separately from queries,
    # like the reference's build-vs-query split. knn_over_index timing
    # below therefore measures QUERY cost only (round-2 VERDICT #8).
    prep: dict[str, float] = {}
    for kind, fn in (("geo", Q._geo_points), ("emb", Q._emb_points),
                     ("unit", Q._unit_points), ("geo_index", Q._geo_index)):
        t0 = time.time()
        fn(spark, SF_DIR)
        prep[kind] = round(time.time() - t0, 3)
    release_intermediates()  # prep-phase transients (outside any scope)

    cold: dict[str, float] = {}
    counts: dict[str, int] = {}
    dist_comps: dict[str, int] = {}
    udf_wall: dict[str, float] = {}
    cand_bytes: dict[str, int] = {}
    warm_passes: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES}
    probes: list[float] = []

    def run_one(name: str) -> float:
        fn, _sql = cat[name]
        t0 = time.time()
        with ReleaseScope() as rs:
            n_rows = fn(spark, SF_DIR).count()
        dt = time.time() - t0
        rs.release()
        counts.setdefault(name, n_rows)
        return dt

    # pass 0 — cold, with fresh accumulators (reference efficiency
    # metric, include/point_vector.h:11 via rgraph.py:168-176);
    # install BEFORE plan build so UDF closures capture them
    for name in BENCH_QUERIES:
        meters = M.install(spark)
        snap = M.driver_snapshot()
        cold[name] = round(run_one(name), 3)
        dist_comps[name] = int(meters.value) + M.driver_delta(snap)
        udf_wall[name] = round(meters.udf_wall, 3)
        # candidate/ghost payload bytes fed into the per-query shuffle
        # (round-4 VERDICT #6: the O(fringe)-shuffle evidence)
        cand_bytes[name] = meters.cand_bytes

    # warm passes, bracketed: probe -> full pass -> probe -> ...
    host_probe()  # throwaway: page-fault/allocator warmup is not host noise
    for _p in range(max(1, PASSES - 1)):
        probes.append(host_probe())
        for name in BENCH_QUERIES:
            warm_passes[name].append(round(run_one(name), 3))
    probes.append(host_probe())

    timings = {n: min(ts) for n, ts in warm_passes.items()}

    # PLUMBING FLOOR: an IDENTITY-kernel cogroup over the emb layout —
    # the same two python stages (ghost mapInPandas elided, cogroup
    # applyInPandas) with zero join work. At bench sf the ball joins
    # sit ON this floor (profiled: floor 1.3s vs emb_ball_join 1.1-1.6s
    # warm; executor CPU < 0.7s of an 11s task-time total), so their
    # wall time measures per-task python dispatch + AQE latency, which
    # is per-TASK, not per-byte — it amortizes at scale and tracks host
    # scheduling noise round-to-round. Recording it in-artifact makes a
    # ball-join "regression" distinguishable from a plan change: wall
    # within ~1.2x of the floor == dispatch-bound, nothing to chase.
    import pandas as pd

    pts, _stats = Q._emb_points(spark, SF_DIR)
    _empty = pts.select("cell", "id").limit(0)

    def _ident(_l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"n": [len(r)]})

    floor_df = (
        _empty.groupby("cell")
        .cogroup(pts.select("cell", "id", "vec").groupby("cell"))
        .applyInPandas(_ident, schema="n bigint")
    )
    floor_runs = []
    for _ in range(3):
        t0 = time.time()
        floor_df.count()
        floor_runs.append(round(time.time() - t0, 3))
    cogroup_floor = min(floor_runs)

    # IVF quality evidence: recall@5 vs the exact cosine top-k at this
    # sf, across nprobe (the accuracy/cost dial), PLUS the index's own
    # build-time-calibrated dial (round-4 VERDICT #2 — the catalog
    # default). Index built ONCE (amortized prep); each sweep point is
    # a query-only cogroup pass.
    from covertree_spark.operators import similarity as _sim

    # ground truth for the sweep: bounded driver collect of k x n_docs
    # exact pairs — fine at bench sf, NOT a pattern for 10^9-query use
    # (production recall checks sample, as calibrate_nprobe does)
    exact5 = {
        (r["src"], r["dst"])
        for r in cat["cosine_topk"][0](spark, SF_DIR).collect()
    }
    release_intermediates()
    ivf_recall: dict[str, object] = {}
    idx = Q._ivf_index(spark, SF_DIR)
    nlist = len(idx.centers)

    def sweep_point(nprobe: int) -> tuple[float, float]:
        t0 = time.time()
        with ReleaseScope() as rs:
            got = {
                (r["src"], r["dst"])
                for r in _sim.ivf_topk_over(
                    idx.pts, idx.centers, k=5, nprobe=nprobe
                ).collect()
            }
        sec = time.time() - t0
        rs.release()
        return len(got & exact5) / len(exact5), sec

    for nprobe in (4, 8, 16, 24, 32, 48, 64):
        if nprobe > nlist:
            break
        rec, sec = sweep_point(nprobe)
        ivf_recall[f"nprobe={nprobe}"] = {
            "recall": round(rec, 4), "sec": round(sec, 3),
        }
        if rec >= 0.9:
            break
    # the dial the catalog actually ships: calibrated at build
    cal_rec, cal_sec = sweep_point(idx.nprobe)
    ivf_recall["nlist"] = nlist
    ivf_recall["calibrated"] = {
        "nprobe": idx.nprobe, "recall_est_at_build": round(idx.recall_est, 4),
        "recall": round(cal_rec, 4), "sec": round(cal_sec, 3),
    }

    # headline: exact geo kNN queries/sec (every doc row is a query),
    # steady-state (warm) — what a long-lived cluster deployment sees
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    qps = n_docs / timings["geo_knn"] if timings["geo_knn"] > 0 else 0.0

    compact = {
        "metric": "exact_knn_queries_per_sec_k10",
        "value": round(qps, 2),
        "unit": "q/s",
        "queries": timings,
        "probe_spread": round(max(probes) / min(probes), 3),
        "cogroup_floor_s": cogroup_floor,
        "runs_per_query": PASSES,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "detail": "BENCH/last_bench.json",
    }
    full = dict(
        compact,
        cold=cold,
        prep=prep,
        counts=counts,
        dist_comps=dist_comps,
        udf_wall_s=udf_wall,
        cand_shuffle_bytes=cand_bytes,
        warm_passes=warm_passes,
        host_probes_s=probes,
        cogroup_floor_runs_s=floor_runs,
        ivf_recall_at_5=ivf_recall,
    )
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "last_bench.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
