"""Deployment-path test: the north_rule's `spark-submit --py-files`
mode, end-to-end. A driver script running from a NEUTRAL cwd with no
repo on PYTHONPATH imports the engine exclusively from the shipped
zip, runs a catalog query at sf0.001, and must produce the identical
sorted row set the in-process session produces."""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from covertree_spark.plans.session import _package_zip
from covertree_spark import queries as Q
from tests.conftest import SF_TINY

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _rows_digest(rows) -> str:
    return hashlib.sha256(
        json.dumps(sorted(map(list, rows))).encode()
    ).hexdigest()[:16]


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_py_files_runs_catalog_query(spark, tmp_path):
    expected = _rows_digest(
        tuple(r) for r in Q.catalog()["geo_cell_histogram"][0](
            spark, SF_TINY
        ).collect()
    )

    driver = tmp_path / "driver.py"
    driver.write_text(textwrap.dedent(f"""
        import hashlib, json
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        # import AFTER session start: the package must resolve from the
        # --py-files zip (this file's cwd has no covertree_spark)
        from covertree_spark import queries as Q

        df = Q.catalog()["geo_cell_histogram"][0](spark, {SF_TINY!r})
        rows = sorted(list(r) for r in df.collect())
        digest = hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:16]
        print("SUBMIT_OK", len(rows), digest)
        spark.stop()
    """))

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    res = subprocess.run(
        [SPARK_SUBMIT, "--py-files", _package_zip(), str(driver)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),
        env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = next(
        (ln for ln in res.stdout.splitlines() if ln.startswith("SUBMIT_OK")),
        None,
    )
    assert line, f"no SUBMIT_OK in stdout: {res.stdout[-1000:]}"
    _tag, _n, digest = line.split()
    assert digest == expected


def test_package_zip_is_built_once_per_source_state(tmp_path, monkeypatch):
    """Same sources -> same complete file, never rewritten, so a worker
    can't be served a zip another process is truncating."""
    import tempfile
    import zipfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    _package_zip.cache_clear()
    try:
        first = _package_zip()
        st = os.stat(first)
        data = open(first, "rb").read()
        assert _package_zip() == first
        _package_zip.cache_clear()  # as a second process would
        assert _package_zip() == first
        assert os.stat(first).st_mtime_ns == st.st_mtime_ns
        assert open(first, "rb").read() == data
    finally:
        _package_zip.cache_clear()
    assert os.path.dirname(first) == str(tmp_path)
    assert os.listdir(tmp_path) == [os.path.basename(first)]
    with zipfile.ZipFile(first) as z:
        names = set(z.namelist())
    assert {"covertree_spark/__init__.py",
            "covertree_spark/plans/zipcache.py"} <= names


def test_package_zip_prunes_stale_zips_on_build(tmp_path, monkeypatch):
    """Building a new zip deletes package zips and build leftovers older
    than a day, and keeps young ones and unrelated files."""
    import tempfile
    import time

    from covertree_spark.plans import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    old = time.time() - session._STALE_ZIP_S - 60
    stale = ["covertree_spark_pyfiles-0123456789abcdef.zip",
             "covertree_spark_pyfiles-x1y2z3.zip.part",
             "covertree_spark_pyfiles.zip"]
    kept = ["covertree_spark_pyfiles-fedcba9876543210.zip", "other.zip"]
    for name in stale + kept:
        (tmp_path / name).write_bytes(b"x")
    for name in stale + kept[1:]:
        os.utime(tmp_path / name, (old, old))
    _package_zip.cache_clear()
    try:
        current = os.path.basename(_package_zip())
    finally:
        _package_zip.cache_clear()
    assert sorted(os.listdir(tmp_path)) == sorted(kept + [current])
