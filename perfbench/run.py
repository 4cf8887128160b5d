"""Repository benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload neighbors --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. generates the workload's tables from ``--seed`` (perfbench/gen.py);
2. starts a Spark session on ``local[nproc]`` with host-derived memory
   settings and a fresh warehouse, and prepares the workload's layouts
   (``setup_s``);
3. runs the workload's catalog queries one at a time: a cold pass, then
   warm passes until ``--seconds`` have elapsed since the cold pass
   ended and at least three have run. Each execution runs from the
   catalog call to the end of ``toArrow()``, which materializes every
   output column at the driver;
4. checks each query's cold-pass result against its ground truth,
   outside all timings;
5. stops Spark and every process it started.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log and the engine's accumulators and reports per-layer
metrics instead (see BENCHMARK.json). Human-readable lines go first;
the last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")  # inside the checkout, ignored by git
# Warm passes a run makes at least, whatever --seconds says: the median
# of three passes no longer follows one pass hit by a host stall.
MIN_WARM_PASSES = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def latency_tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples above it, and a
    note naming it. With twenty samples or fewer that percentile is not
    above the median; the maximum is given and the note says so."""
    xs = sorted(samples)
    if len(xs) <= 20:
        return xs[-1], (f"max of {len(xs)} warm executions; no percentile "
                        "above the median has ten samples above it")
    i = len(xs) - 11
    return xs[i], f"p{100.0 * (i + 1) / len(xs):.0f} of {len(xs)} warm executions"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import procmon

    proc_start = procmon.process_start_epoch()
    from covertree_spark import queries as Q  # noqa: F401  (import cost is setup)
    import_s = time.time() - proc_start

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return Run(args, WORKLOADS[args.workload], run_dir, import_s).execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


class Run:
    def __init__(self, args, workload, run_dir: str, import_s: float):
        self.args = args
        self.w = workload
        self.dir = run_dir
        self.import_s = import_s
        self.data_dir = os.path.join(run_dir, "data")
        self.log_dir = os.path.join(run_dir, "eventlog")
        self.spark = None
        self.execs: list[dict] = []
        self.layer: dict[str, float] = {}
        self.errors: list[str] = []
        self.results: dict = {}  # query -> Arrow result of its cold execution
        self.spans: dict[str, tuple[float, float]] = {}  # setup steps

    # ---- session ---------------------------------------------------------------

    def _session(self):
        import procmon
        from covertree_spark.plans.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        total = procmon.mem_total_bytes()
        heap_mb = max(1024, total // 8 // procmon.MB)
        worker_mb = (total // procmon.MB - heap_mb) // cpus
        for sub in ("tmp", "local", "warehouse", "spark-warehouse"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        os.environ.update({
            "TMPDIR": os.path.join(self.dir, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(self.dir, "warehouse"),
            "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
            # keep the launcher JVM from writing perf data to the system temp dir
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        })
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.executor.pyspark.memory": f"{worker_mb}m",
            "spark.local.dir": os.path.join(self.dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.dir, "spark-warehouse"),
            # A fixed young generation: G1 otherwise sizes it from pause
            # times, which follow host speed, and the JVM's resident heap
            # then swung by 400 MB between runs of the same code.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')} "
                f"-Dderby.system.home={self.dir} -XX:-UsePerfData -Xmn256m"
            ),
        }
        if self.args.trace:
            os.makedirs(self.log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.log_dir,
            })
        self.settings = {"cpus": cpus, "driver_heap_mb": heap_mb,
                         "pyspark_memory_mb": worker_mb}
        t0 = time.time()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               cpus=cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.time() - t0
        return t0

    def _stop_session(self) -> None:
        """Stop Spark, close the JVM gateway and wait for every process
        this run started (the JVM and its Python workers)."""
        import procmon
        from pyspark import SparkContext

        kids = procmon.descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            alive = procmon.wait_gone(kids, timeout_s=30)
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        alive = procmon.wait_gone(kids, timeout_s=10)
        if alive:
            raise RuntimeError(f"processes did not exit: {alive}")

    def _group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    # ---- phases ----------------------------------------------------------------

    def setup(self) -> float:
        import layers
        from covertree_spark.sources import tables as src
        from workloads import LAYOUTS

        t0 = self._session()
        self._group("setup:sources")
        t = time.time()
        rows = sum(src.load_table(self.spark, self.data_dir, name).count()
                   for name in ("documents", "embeddings", "events"))
        self.spans["setup:sources"] = (t, time.time())
        self.layer["sources.scan_s"] = time.time() - t
        self.layer["sources.rows"] = rows
        cells = 0
        self.layer.update({metric: 0.0 for metric, _fn in LAYOUTS.values()})
        for name in self.w.layouts:
            metric, fn = LAYOUTS[name]
            self._group(f"setup:{name}")
            t = time.time()
            _pts, stats = fn(self.spark, self.data_dir)
            self.spans[f"setup:{name}"] = (t, time.time())
            self.layer[metric] = time.time() - t
            cells += len(stats.cell_ids)
        self.layer["partition.cells"] = cells
        self.layer["checkpoint.bytes_written"] = layers.du_bytes(
            os.environ["SPARK_GRAFT_WAREHOUSE"])
        self.setup_span = (t0, time.time())
        return self.setup_span[1] - t0

    def build_index(self) -> None:
        """Traced run only: build and commit the warehouse tree index over
        the geo layout, timed like a setup step."""
        import layers
        from workloads import INDEX

        metric, fn = INDEX
        self.layer[metric] = 0.0
        if "geo" not in self.w.layouts:
            return
        wh = os.environ["SPARK_GRAFT_WAREHOUSE"]
        before = layers.du_bytes(wh)
        self._group("index:geo")
        t = time.time()
        fn(self.spark, self.data_dir)
        self.spans["index:geo"] = (t, time.time())
        self.layer[metric] = time.time() - t
        self.layer["checkpoint.bytes_written"] += layers.du_bytes(wh) - before

    def _execute(self, name: str, phase: str) -> dict:
        from covertree_spark.plans import metrics as M
        from covertree_spark.plans.session import ReleaseScope

        fn = self.catalog[name][0]
        group = f"{phase}:{name}:{len(self.execs)}"
        self._group(group)
        if self.args.trace:
            meters = M.install(self.spark)
            dist0 = M.driver_snapshot()
            self.sampler.reset_window()
        t0 = time.time()
        t_build = result = None
        scope = ReleaseScope()
        try:
            with scope:
                df = fn(self.spark, self.data_dir)
                t_build = time.time()
                result = df.toArrow()
        except Exception:  # one failed operation; the run carries on
            self.errors.append(f"{group}: {traceback.format_exc(limit=3)}")
        t1 = time.time()
        scope.release()
        if result is not None and phase == "cold":
            self.results[name] = result
        cold = self.results.get(name)
        ok = result is not None and cold is not None and \
            result.num_rows == cold.num_rows
        if result is not None and not ok:
            self.errors.append(f"{group}: {result.num_rows} rows, cold pass "
                               f"had {cold.num_rows if cold else 'no result'}")
        rec = {"name": name, "phase": phase, "group": group, "ok": ok,
               "t0": t0, "t_build": t_build or t1, "t1": t1,
               "rows": result.num_rows if result is not None else 0}
        if self.args.trace:
            rec["dist_comps"] = meters.value + M.driver_delta(dist0)
            rec["udf_wall_s"] = meters.udf_wall
            rec["cand_bytes"] = meters.cand_bytes
            rec["workers_mb"] = self.sampler.window_workers_mb()
            rec["persisted"] = self._persisted()
        self.execs.append(rec)
        return rec

    def _persisted(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().getPersistentRDDs().size())

    def measure(self) -> tuple[list[float], float]:
        """Cold pass, then warm passes until the run's seconds have passed
        since the cold pass ended (at least MIN_WARM_PASSES). Returns
        (warm pass walls, cold pass wall)."""
        start = time.time()
        for name in self.w.queries:
            self._execute(name, "cold")
        warm_start = time.time()
        cold = warm_start - start
        warm: list[float] = []
        while len(warm) < MIN_WARM_PASSES or time.time() - warm_start < self.args.seconds:
            t = time.time()
            for name in self.w.queries:
                self._execute(name, "warm")
            warm.append(time.time() - t)
        return warm, cold

    def check(self) -> dict[str, str | None]:
        """Check each query's cold-pass result against its ground truth."""
        import duckdb
        from check import Checker

        con = duckdb.connect(config={
            "threads": self.settings["cpus"],
            "temp_directory": os.path.join(self.dir, "tmp", "duckdb"),
        })
        try:
            checker = Checker(con, self.data_dir)
            out: dict[str, str | None] = {}
            for name in self.w.queries:
                if name not in self.results:
                    out[name] = "no result: the cold execution failed"
                    continue
                try:
                    out[name] = checker.check(name, self.results[name])
                except Exception:
                    out[name] = traceback.format_exc(limit=3)
            return out
        finally:
            con.close()

    # ---- the run ---------------------------------------------------------------

    def execute(self) -> int:
        import bench  # repository root: the bracketed host probe
        import gen
        import procmon
        from covertree_spark import queries as Q
        from workloads import N_DOCS, N_EMB, N_EVENTS

        self.catalog = Q.catalog()
        phases = {"gen": time.time()}
        gen.write_tables(self.data_dir, self.args.seed, N_DOCS, N_EMB, N_EVENTS)
        phases["probe"] = time.time()
        probes = [bench.host_probe()]  # best of two calls: faults excluded
        # Free the probe's buffers (~260 MB) so the driver RSS that
        # peak_rss_mb sums holds none of the benchmark's own memory; the
        # second probe rebuilds them after the timed window.
        bench._PROBE_STATE = None
        procmon.trim_heap()

        phases["setup"] = time.time()
        self.sampler = procmon.TreeSampler().start()
        try:
            setup_s = self.import_s + self.setup()
            self.baseline = self._persisted()
            phases["measure"] = time.time()
            ticks0 = procmon.cpu_ticks()
            warm, cold = self.measure()
            ticks1 = procmon.cpu_ticks()
            self.sampler.stop()
            phases["check"] = time.time()
            probes.append(bench.host_probe())
            bench._PROBE_STATE = None
            if self.args.trace:
                self.build_index()
            verdicts = self.check()
        finally:
            self.sampler.stop()
            phases["stop"] = time.time()
            if self.spark is not None:
                self._stop_session()
        phases["end"] = time.time()
        noise = {"probes": probes, "steal": (ticks1[0] - ticks0[0])
                 / max(1, ticks1[1] - ticks0[1])}
        return self.report(setup_s, cold, warm, verdicts, phases, noise)

    def report(self, setup_s, cold, warm, verdicts, phases, noise) -> int:
        """Print every metric by name with its unit, then the JSON line."""
        from workloads import N_DOCS

        failed_checks = sorted(n for n, v in verdicts.items() if v)
        failed = sum(not r["ok"] for r in self.execs) + len(failed_checks)
        attempted = len(self.execs) + len(verdicts)
        for err in self.errors:
            print(f"# failed execution: {err}", file=sys.stderr)
        for n in failed_checks:
            print(f"# wrong result: {n}: {verdicts[n]}", file=sys.stderr)

        lat = [r["t1"] - r["t0"] for r in self.execs if r["phase"] == "warm"]
        tail, tail_note = latency_tail(lat)
        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (cold, "s"),
            "warm_pass_s": (statistics.median(warm), "s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_tail_s": (tail, "s"),
            "peak_rss_mb": (self.sampler.peak_mb, "MB"),
            "error_rate": (failed / attempted, "ratio"),
        }
        knn = [r["t1"] - r["t0"] for r in self.execs
               if r["phase"] == "warm" and r["name"] == "geo_knn"]
        if knn:
            e2e["knn_qps"] = (N_DOCS / statistics.median(knn), "q/s")
        notes = {
            "latency_tail_s": tail_note,
            "error_rate": f"{failed} of {attempted} operations "
                          f"({len(self.execs)} executions, {len(verdicts)} checks)",
            "warm_pass_s": f"median of {len(warm)} warm passes: "
                           + ", ".join(f"{p:.3f}" for p in warm),
        }
        print(f"# workload {self.args.workload} seed {self.args.seed} "
              f"trace {self.args.trace} settings {json.dumps(self.settings)}")
        marks = list(phases.items())
        print("# phase seconds: " + ", ".join(
            f"{a} {t1 - t0:.1f}" for (a, t0), (_b, t1) in zip(marks, marks[1:])))
        probes = noise["probes"]
        print(f"# host probe spread {max(probes) / min(probes):.3f} "
              f"(probes {', '.join(f'{p:.4f}' for p in probes)} s); "
              f"CPU steal {100 * noise['steal']:.1f}% of the timed window")
        for name, (value, unit) in e2e.items():
            note = f"  ({notes[name]})" if name in notes else ""
            print(f"{name} {value:.6g} {unit}{note}")

        if self.args.trace:
            import layers

            self.layer.update(layers.covertree_blocks(self.args.seed))
            self.layer.update(layers.trace_metrics(self, warm, lat))
            for name, value in self.layer.items():
                print(f"{name} {value:.6g}")
            values, kind = self.layer, "per_layer"
        else:
            values = {name: value for name, (value, _unit) in e2e.items()}
            kind = "end_to_end"
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in spec_units(kind).items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0


def spec_units(kind: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
