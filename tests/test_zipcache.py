"""Import-cache invalidation skips unchanged zip archives
(plans/zipcache.py) and still re-reads a replaced one."""

import importlib
import os
import sys
import zipfile
import zipimport

import covertree_spark  # noqa: F401  (applies the check)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_invalidation_skips_unchanged_and_rereads_changed(tmp_path, monkeypatch):
    mods = ["ct_zipcache_m1", "ct_zipcache_m2", "ct_zipcache_m3"]
    archive = tmp_path / "mods.zip"
    _write_zip(archive, mods[:1])
    monkeypatch.syspath_prepend(str(archive))
    for m in mods:
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module(mods[0]).NAME == mods[0]

    calls = _count_reads(monkeypatch)

    def reads():
        return sum(c == str(archive) for c in calls)

    importlib.invalidate_caches()
    assert reads() == 0

    # replaced by os.replace (new inode): read again, and the new
    # module imports through the same cached importer
    staged = tmp_path / "staged.zip"
    _write_zip(staged, mods[:2])
    st = os.stat(archive)
    os.utime(staged, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    os.replace(staged, archive)
    importlib.invalidate_caches()
    assert reads() == 1
    assert importlib.import_module(mods[1]).NAME == mods[1]

    # rewritten in place (same inode, new size and mtime): read again
    st = os.stat(archive)
    _write_zip(archive, mods)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads() == 2
    assert importlib.import_module(mods[2]).NAME == mods[2]


def test_worker_tasks_do_not_reread_archives(spark):
    def count_rereads(batches):
        import importlib
        import zipimport

        import pandas as pd

        import covertree_spark  # noqa: F401

        for _ in batches:
            pass
        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"reads": [len(calls)]})

    n = 2 * spark.sparkContext.defaultParallelism
    rows = (
        spark.range(0, n, numPartitions=n)
        .mapInPandas(count_rereads, schema="reads long")
        .collect()
    )
    assert [r["reads"] for r in rows] == [0] * n
