"""Python workers re-read a zip archive on their path only when it changed.

``importlib.invalidate_caches()`` runs at the start of every Python task
and, unpatched, makes every ``zipimporter`` re-read its archive's whole
directory. Once a worker has imported the engine, an unchanged archive
is not read again; a rewritten one still is.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from openmldb_spark import _zipstamp


def _write_zip(path, value: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("zs_probe_mod/__init__.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)       # a fresh inode, as a file copy lands


@pytest.fixture
def worker_patch(monkeypatch):
    """Install the worker-side patch in this process, undone afterwards."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(_zipstamp, "_read_at", {})
    _zipstamp.install_on_worker()
    assert zipimport.zipimporter.invalidate_caches \
        is _zipstamp._invalidate_caches


def test_driver_keeps_stock_invalidate_caches():
    # importing the engine on the driver changes nothing
    assert not _zipstamp.on_worker()
    assert zipimport.zipimporter.invalidate_caches is _zipstamp._reread


def test_unchanged_archive_not_reread_rewritten_archive_is(
        tmp_path, monkeypatch, worker_patch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "one")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zs_probe_mod", raising=False)
    import zs_probe_mod
    assert zs_probe_mod.VALUE == "one"

    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    def reads_of_archive() -> int:
        reads.clear()
        importlib.invalidate_caches()
        return reads.count(archive)

    # the first call after installation reads the archive once, to take
    # its stamp; later calls reuse the cached directory
    assert reads_of_archive() == 1
    assert reads_of_archive() == 0
    assert reads_of_archive() == 0

    _write_zip(archive, "two, longer")
    assert reads_of_archive() == 1
    del sys.modules["zs_probe_mod"]
    import zs_probe_mod as again
    assert again.VALUE == "two, longer"
    assert reads_of_archive() == 0

    # a directory dropped from zipimport's cache is read again
    monkeypatch.delitem(zipimport._zip_directory_cache, archive)
    assert reads_of_archive() == 1


def test_reused_worker_rereads_no_archive(spark):
    """Every task reports whether its worker had imported the engine in
    an earlier task, and how many archives one more
    ``invalidate_caches()`` re-reads. On a reused worker it is none."""

    def probe(batches):
        import importlib as il
        import os as os_
        import sys as sys_
        import zipimport as zi

        reused = "openmldb_spark" in sys_.modules
        import openmldb_spark  # noqa: F401  (patches this worker)
        real = zi._read_directory
        n = [0]

        def counting(path):
            n[0] += 1
            return real(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        n_zip = sum(isinstance(f, zi.zipimporter)
                    for f in sys_.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os_.getpid()], "reused": [reused],
                            "reads": [n[0]], "n_zip": [n_zip]})

    schema = "pid long, reused boolean, reads long, n_zip long"
    rows = []
    for _ in range(2):
        rows += spark.range(8, numPartitions=8).mapInPandas(
            probe, schema).collect()
    # archives are on the workers' path, so a re-read would show
    assert all(r.n_zip > 0 for r in rows), rows
    reused = [r for r in rows if r.reused]
    assert reused, rows             # worker reuse is in effect
    assert all(r.reads == 0 for r in reused), rows
