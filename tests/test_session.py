"""The zip-rescan guard in ``session.py``: a Spark Python worker re-reads a
zip or jar on its sys.path only when the archive changed on disk."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from sparrow_ipc_spark import session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ invalidates zipimporter caches lazily; no guard")

MOD = "sipc_zip_probe"


def _write_zip(path, value: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MOD}.py", f"X = {value}\n")


def _count_reads(monkeypatch, archive: str) -> list:
    """Record every central-directory read of ``archive``."""
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    yield archive
    sys.modules.pop(MOD, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def guard():
    original = zipimport.zipimporter.invalidate_caches
    session._skip_unchanged_zip_rescans()
    yield
    zipimport.zipimporter.invalidate_caches = original


def test_driver_is_not_guarded():
    assert not session._on_spark_worker()
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def test_unchanged_archive_is_not_reread_and_a_rewrite_is(zip_on_path, guard, monkeypatch):
    assert importlib.import_module(MOD).X == 1
    importlib.invalidate_caches()  # the guard's first sighting re-reads once
    reads = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    st = os.stat(zip_on_path)
    _write_zip(zip_on_path, 2)  # same size, same inode
    # a later mtime, as a rewrite in a later timestamp tick would get
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    sys.modules.pop(MOD)
    assert importlib.import_module(MOD).X == 2

    importlib.invalidate_caches()
    assert reads == [zip_on_path]


def test_unreadable_archive_goes_through_the_original(zip_on_path, guard, monkeypatch):
    importlib.import_module(MOD)
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch, zip_on_path)
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    assert zip_on_path not in zipimport._zip_directory_cache


def test_guard_is_idempotent(guard):
    installed = zipimport.zipimporter.invalidate_caches
    session._skip_unchanged_zip_rescans()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_no_guard_where_cpython_is_lazy(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    session._skip_unchanged_zip_rescans()
    assert zipimport.zipimporter.invalidate_caches is original


def test_spark_worker_is_guarded(spark):
    # defined here, not at module level, so cloudpickle ships it by value
    def _probe_worker(batches):
        import importlib
        import zipimport

        import sparrow_ipc_spark  # noqa: F401  (installs the guard in this worker)

        for _ in batches:
            pass
        importlib.invalidate_caches()  # the guard's first sighting re-reads once
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        guarded = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        n_zips = len(zipimport._zip_directory_cache)
        yield pa.record_batch(
            [pa.array([guarded]), pa.array([len(reads)]), pa.array([n_zips])],
            names=["guarded", "reads", "n_zips"])

    rows = spark.range(1, numPartitions=1).mapInArrow(
        _probe_worker, "guarded boolean, reads long, n_zips long").collect()
    assert len(rows) == 1
    row = rows[0]
    assert row.guarded
    assert row.n_zips >= 1  # pyspark.zip at least: the probe saw archives
    assert row.reads == 0
