"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-at-scale defaults: AQE on (runtime re-plan +
skew-join splitting), Arrow transfer for all pandas UDF boundaries,
explicit shuffle-partition sizing. Tests and bench override
parallelism via ``local[N]``.
"""

from __future__ import annotations

import functools
import hashlib
import os
import tempfile
import time
import zipfile

from pyspark.sql import SparkSession


@functools.cache
def _package_zip() -> str:
    """Zip the covertree_spark package for worker distribution — the
    same artifact ``spark-submit --py-files`` would ship (north_rule
    deployment mode). Built once per process.

    The name carries a hash of the packaged sources, and the archive is
    written under a temporary name and ``os.replace``d into place, so
    processes sharing the temp directory never rewrite a zip another
    one has handed to Spark: the same sources resolve to the same
    complete file, different sources to a different name.

    Each source state leaves one zip behind. Building a new one
    deletes the other package zips (and ``.zip.part`` leftovers of a
    killed build) last modified more than ``_STALE_ZIP_S`` ago; the
    current name is never deleted."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    sources = []
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                with open(full, "rb") as fh:
                    sources.append((os.path.relpath(full, root), fh.read()))
    digest = hashlib.sha256()
    for rel, data in sources:
        digest.update(rel.encode() + b"\0" + data + b"\0")
    tmpdir = tempfile.gettempdir()
    out = os.path.join(
        tmpdir, f"covertree_spark_pyfiles-{digest.hexdigest()[:16]}.zip"
    )
    if os.path.exists(out):
        return out
    fd, tmp = tempfile.mkstemp(
        prefix="covertree_spark_pyfiles-", suffix=".zip.part", dir=tmpdir
    )
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
            for rel, data in sources:
                z.writestr(rel, data)
        os.replace(tmp, out)
    except BaseException:
        os.unlink(tmp)
        raise
    _prune_stale_zips(tmpdir, keep=out)
    return out


_STALE_ZIP_S = 24 * 3600


def _prune_stale_zips(tmpdir: str, keep: str) -> None:
    """Delete package zips and build leftovers in ``tmpdir`` older
    than ``_STALE_ZIP_S``, except ``keep``. A local SparkContext reads
    an added file when it is added and at its first task, then serves
    its own copy, so deleting a zip only affects a process that adds it
    to a new SparkContext, or runs that context's first task, more than
    ``_STALE_ZIP_S`` after the zip was written."""
    cutoff = time.time() - _STALE_ZIP_S
    for name in os.listdir(tmpdir):
        path = os.path.join(tmpdir, name)
        if not name.startswith("covertree_spark_pyfiles") or path == keep:
            continue
        if not name.endswith((".zip", ".zip.part")):
            continue
        try:
            if os.stat(path).st_mtime < cutoff:
                os.unlink(path)
        except OSError:
            pass  # gone already, or not ours to delete


# ---- persisted-intermediate registry (caching contract) --------------------
# Operators persist transient intermediates (candidate sets, input re-scans)
# because several downstream jobs consume them. A long-lived session running
# many queries (bench.py, the driver gate) would otherwise accumulate cached
# blocks until storage eviction (ADVICE round 1). Operators register such
# DataFrames here; callers release them once the query's result is
# materialized. Inputs the CALLER persisted (e.g. the catalog's
# prepared-points cache) are never registered, so they survive release.
#
# TWO GRANULARITIES (round-3 VERDICT #6):
#   * ReleaseScope — the per-query handle. Build a query inside
#     ``with ReleaseScope() as rs:``; every intermediate the operators
#     persist during that build registers with THAT scope. Call
#     ``rs.release()`` after materializing the result. Interleaved
#     queries are safe: each build's persists live in its own scope,
#     so releasing query A never drops query B's ``parts`` persist
#     (the foot-gun that silently reintroduced the kNN AQE union
#     double-compute — dist_comps doubling was the regression signal).
#   * release_intermediates() — the legacy global sweep, correct for
#     the one-query-in-flight pattern. Registrations made outside any
#     active scope land in the global registry it drains.
_RELEASABLE: list = []
_SCOPE_STACK: list = []


class ReleaseScope:
    """Collects the intermediates operators persist while the scope is
    active (plan BUILD time — operators persist eagerly during query
    construction); ``release()`` unpersists exactly those. Reentrant:
    nested scopes collect into the innermost."""

    def __init__(self):
        self._dfs: list = []

    def __enter__(self) -> "ReleaseScope":
        _SCOPE_STACK.append(self)
        return self

    def __exit__(self, *exc) -> bool:
        _SCOPE_STACK.remove(self)
        return False

    def release(self) -> int:
        """Unpersist this scope's intermediates. Call AFTER the query
        result is materialized (never before: the plan would
        recompute). Returns the number released."""
        n = len(self._dfs)
        for df in self._dfs:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
        self._dfs.clear()
        return n


def mark_releasable(df):
    if _SCOPE_STACK:
        _SCOPE_STACK[-1]._dfs.append(df)
    else:
        _RELEASABLE.append(df)
    return df


def release_intermediates() -> int:
    """Unpersist every GLOBALLY-registered operator intermediate (see
    the registry contract above; per-query callers use ReleaseScope).
    Call after the query result is materialized. Returns the number
    released."""
    n = len(_RELEASABLE)
    for df in _RELEASABLE:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
    _RELEASABLE.clear()
    return n


def host_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    )


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else min(16g, half the host's RAM)."""
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if mem is None:
        total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
        mem = f"{min(16384, total_mb // 2)}m"
    return mem


def get_spark(
    app_name: str = "covertree_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = host_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    # Worker-process memory hygiene, inherited via the JVM child env:
    #  - glibc: never mmap/munmap large numpy buffers (first-touch page
    #    faults are pathologically slow on this hardware; keep the heap
    #    and reuse it across tasks)
    #  - BLAS: one thread per worker (local[N] already saturates cores)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    os.environ.setdefault("MKL_NUM_THREADS", "1")
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # bucketed snapshot scans must ALWAYS expose their
        # hashpartitioning (the resume-without-shuffle contract,
        # plans/checkpoint.py): autoBucketedScan would let a first
        # cache-materializing count() plan a bucket-blind scan and
        # freeze UnknownPartitioning into the persisted layout
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.addPyFile(_package_zip())
    return spark
