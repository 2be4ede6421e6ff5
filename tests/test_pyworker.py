"""Stamp-checked zip directory caches (``edgesearch_spark._pyworker``).

Before Python 3.13, ``importlib.invalidate_caches()`` makes every
``zipimporter`` re-read its archive's central directory, and each PySpark
Python task calls it. Importing the package wraps the call so an importer
re-reads only an archive whose (mtime, size) changed. The driver-only
tests pin that contract on a temp zip; the worker test checks that a
Python task's flush keeps every zip directory it already holds."""

import os
import sys
import zipfile
import zipimport

import pytest

import edgesearch_spark  # noqa: F401 — installs the wrapper
from edgesearch_spark import _pyworker

LAZY = sys.version_info >= (3, 13)  # invalidate_caches no longer re-reads


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for m in modules:
            zf.writestr(f"{m}.py", f"NAME = {m!r}\n")
    os.replace(tmp, path)


@pytest.mark.skipif(LAZY, reason="Python >= 3.13 never re-reads on invalidate_caches")
def test_unchanged_archive_keeps_directory(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["a"])
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()  # an importer made after install reads once, then stamps
    files = imp._files
    for _ in range(3):
        imp.invalidate_caches()
    assert imp._files is files
    assert imp.find_spec("a") is not None


@pytest.mark.skipif(LAZY, reason="Python >= 3.13 never re-reads on invalidate_caches")
def test_changed_archive_is_reread(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["a"])
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    _write_zip(path, ["a", "b"])  # new size
    assert imp.find_spec("b") is None  # the cached directory is stale
    imp.invalidate_caches()
    assert imp.find_spec("b") is not None

    # same size, new content: the mtime alone triggers the re-read
    files = imp._files
    _write_zip(path, ["a", "c"])
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    imp.invalidate_caches()
    assert imp._files is not files
    assert imp.find_spec("c") is not None and imp.find_spec("b") is None


def test_install_wraps_once():
    wrapped = zipimport.zipimporter.invalidate_caches
    _pyworker.install()
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    if not LAZY:
        assert not hasattr(wrapped.reread, "reread")


@pytest.mark.skipif(LAZY, reason="Python >= 3.13 never re-reads on invalidate_caches")
def test_worker_flush_keeps_zip_directories(spark):
    def kept(_):
        import importlib
        import sys
        import zipimport

        import edgesearch_spark  # noqa: F401 — what every UDF of the package imports

        imps = [i for i in sys.path_importer_cache.values()
                if isinstance(i, zipimport.zipimporter)]
        before = [i._files for i in imps]
        importlib.invalidate_caches()
        yield len(imps), sum(i._files is f for i, f in zip(imps, before))

    n, n_kept = spark.sparkContext.parallelize([0], 1).mapPartitions(kept).collect()[0]
    assert n > 0  # pyspark.zip, py4j and the package zip sit on the worker's path
    assert n_kept == n

