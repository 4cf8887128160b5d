#!/usr/bin/env python
"""Side benchmarks for optimization work (guide §1.4): times individual
catalog queries with the noop sink (computation only, no sink cost) and
captures .explain("formatted") per query.

NOT the driver's bench — bench.py is frozen for measurement. This file
exists so per-change before/after numbers and plan artifacts
(plans/r06/<q>_{before,after}.txt) can be produced without touching it.

Usage:
  python bench_extra.py q1 q2 ...            # time with noop sink
  python bench_extra.py --explain TAG q1 ... # also write plans/r06/<q>_TAG.txt
  SPARK_GRAFT_BENCH_RUNS=4 controls warm passes (default 4).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from covertree_spark import queries as Q  # noqa: E402
from covertree_spark.plans.session import (  # noqa: E402
    ReleaseScope,
    get_spark,
    host_cpus,
    release_intermediates,
)

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = host_cpus()
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "4"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = sys.argv[1:]
    tag = None
    plan_only = False
    if args and args[0] == "--plan-only":
        plan_only = True
        args = args[1:]
    if args and args[0] == "--explain":
        tag = args[1]
        args = args[2:]
    names = args
    spark = get_spark(app_name="covertree-bench-extra", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    cat = Q.catalog()
    for n in names:
        if n not in cat:
            raise SystemExit(f"unknown query: {n}")

    # same amortized prep phase as bench.py
    for t in ("documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    cat["tile_assign"][0](spark, SF_DIR).count()
    for fn in (Q._geo_points, Q._emb_points, Q._unit_points, Q._geo_index):
        fn(spark, SF_DIR)
    release_intermediates()

    out: dict[str, dict] = {}
    for name in names:
        fn, _sql = cat[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if not plan_only:
            times = []
            for p in range(PASSES + 1):  # pass 0 cold
                t0 = time.time()
                with ReleaseScope() as rs:
                    noop(fn(spark, SF_DIR))
                dt = round(time.time() - t0, 3)
                rs.release()
                times.append(dt)
            out[name] = {"cold": times[0], "warm": times[1:], "min": min(times[1:])}
        if tag is not None:
            os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
            with ReleaseScope() as rs:
                df = fn(spark, SF_DIR)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            rs.release()
            with open(
                os.path.join(REPO, "plans", "r06", f"{name}_{tag}.txt"), "w"
            ) as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(None)
        if name in out:
            print(json.dumps({name: out[name]}), flush=True)
        else:
            print(json.dumps({name: "plan captured"}), flush=True)
    if out:
        print(json.dumps(out))


if __name__ == "__main__":
    main()
