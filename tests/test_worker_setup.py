"""Zip importers keep their directories across Python tasks.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. Before CPython 3.12 each zip importer then re-reads its archive's
whole central directory. ``job._keep_zip_directories`` (run once per
worker by the fused pass) makes that a stat: an importer re-reads only
an archive that changed since it last read it. These tests count
``zipimport._read_directory`` calls, never time them.
"""

import importlib
import os
import pickle
import sys
import time
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark import cloudpickle

from ocr_processing_pipeline_spark.pipeline import job
from ocr_processing_pipeline_spark.pipeline.job import run_pipeline

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zip importers invalidate lazily from CPython 3.12 on")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def stdlib_zipimporter():
    """zipimporter with the stdlib invalidate_caches and no install guard;
    the class is put back as it was afterwards."""
    cls = zipimport.zipimporter
    names = ("invalidate_caches", "_stdlib_invalidate_caches")
    saved = {n: vars(cls)[n] for n in names if n in vars(cls)}
    cls.invalidate_caches = saved.get("_stdlib_invalidate_caches",
                                      saved["invalidate_caches"])
    if "_stdlib_invalidate_caches" in saved:
        del cls._stdlib_invalidate_caches
    yield cls
    for n in names:
        if n in saved:
            setattr(cls, n, saved[n])
        elif n in vars(cls):
            delattr(cls, n)


@pytest.fixture
def zipped_modules(tmp_path):
    """A zip on sys.path (removed afterwards); yields its path."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipped_m": "X = 1"})
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    for name in ("zipped_m", "zipped_n"):
        sys.modules.pop(name, None)


@pytest.fixture
def directory_reads():
    """Every zipimport._read_directory call, by archive path."""
    reads = []
    real_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real_read(path)

    zipimport._read_directory = counting
    yield reads
    zipimport._read_directory = real_read


def test_invalidate_rereads_only_changed_archives(
        stdlib_zipimporter, zipped_modules, directory_reads):
    """Once every importer has read its archive, repeated invalidations
    read no directory; rewriting the archive makes the next one read it
    again, and a module added by the rewrite imports."""
    archive, reads = zipped_modules, directory_reads
    assert importlib.import_module("zipped_m").X == 1
    job._keep_zip_directories()
    assert (stdlib_zipimporter.invalidate_caches
            is job._invalidate_zip_if_changed)
    # each importer reads its archive on its first call
    importlib.invalidate_caches()
    assert archive in reads
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zipped_m": "X = 1", "zipped_n": "Y = 2"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zipped_n").Y == 2


def test_rewrite_with_same_size_and_mtime_is_read(
        stdlib_zipimporter, zipped_modules, directory_reads):
    """An archive copied over in place (same inode and size, mtime put
    back, as ``cp -p`` does) is still read again: the write moves its
    ctime."""
    archive, reads = zipped_modules, directory_reads
    importlib.import_module("zipped_m")
    job._keep_zip_directories()
    importlib.invalidate_caches()
    before = os.stat(archive)
    reads.clear()

    time.sleep(0.05)   # past the file system's timestamp granularity
    _write_zip(archive, {"zipped_m": "X = 2"})
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(archive)
    assert ((after.st_ino, after.st_size, after.st_mtime_ns)
            == (before.st_ino, before.st_size, before.st_mtime_ns))
    assert after.st_ctime_ns != before.st_ctime_ns
    importlib.invalidate_caches()
    assert reads == [archive]


def test_install_is_once_per_process_even_shipped_by_value(
        stdlib_zipimporter, zipped_modules, directory_reads):
    """Run as ``python -m …job`` the pass ships ``_keep_zip_directories``
    by value, a fresh copy per task. Every copy after the first installs
    nothing, so the replacement never wraps itself, and a changed archive
    is still read exactly once."""
    archive, reads = zipped_modules, directory_reads
    importlib.import_module("zipped_m")
    cloudpickle.register_pickle_by_value(job)
    try:
        copies = [pickle.loads(cloudpickle.dumps(job._keep_zip_directories))
                  for _ in range(3)]
    finally:
        cloudpickle.unregister_pickle_by_value(job)
    assert all(c is not job._keep_zip_directories for c in copies)
    stdlib = stdlib_zipimporter.invalidate_caches
    for install in copies:
        install()
        assert stdlib_zipimporter._stdlib_invalidate_caches is stdlib
    importlib.invalidate_caches()
    reads.clear()

    _write_zip(archive, {"zipped_m": "X = 1", "zipped_n": "Y = 2"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zipped_n").Y == 2


def test_warm_workers_read_no_zip_directory(spark, corpus_dir, tmp_path):
    """After one run_pipeline, the workers its pass ran in keep their zip
    directories: a task there reads none when it invalidates the import
    caches."""

    # defined here: cloudpickle ships a local function by value
    def report_invalidation(batches):
        """One row per task: whether this worker runs the replacement, and
        how many archive directories one invalidate_caches() call reads."""
        import importlib
        import zipimport

        from ocr_processing_pipeline_spark.pipeline import job

        reads = []
        real_read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real_read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        for _ in batches:
            pass
        yield pd.DataFrame({
            "installed": [zipimport.zipimporter.invalidate_caches
                          is job._invalidate_zip_if_changed],
            "reads": [len(reads)]})

    run_pipeline(spark, f"{corpus_dir}/pages.parquet", corpus_dir,
                 str(tmp_path / "out"), n_buckets=8)
    cpus = spark.sparkContext.defaultParallelism
    got = (spark.range(0, cpus, numPartitions=cpus)
           .mapInPandas(report_invalidation, "installed boolean, reads long")
           .collect())
    assert any(r.installed for r in got), got
    assert all(r.reads == 0 for r in got if r.installed), got
