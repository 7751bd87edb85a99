"""pyship.patch_zipimport_invalidate: a zip on sys.path is re-read only
when it changed. Asserts on counts of zipimport._read_directory calls,
never on timings."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from collections import defaultdict

import pytest

from baseline_magician_spark.pyship import patch_zipimport_invalidate

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the patch is a no-op on CPython >= 3.13"
)


def write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def zpkg(tmp_path, monkeypatch):
    """A zip holding ``zpk/sub/a.py`` on sys.path, and a list of the
    archives ``_read_directory`` is called on from now on."""
    archive = str(tmp_path / "zpk.zip")
    files = {"zpk/__init__.py": "", "zpk/sub/__init__.py": "", "zpk/sub/a.py": "A = 1\n"}
    write_zip(archive, files)
    monkeypatch.syspath_prepend(archive)
    reads: list[str] = []
    orig = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield archive, files, reads
    for name in [m for m in sys.modules if m == "zpk" or m.startswith("zpk.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_read_again(zpkg):
    archive, _files, reads = zpkg
    assert importlib.import_module("zpk.sub.a").A == 1
    importers = [k for k in sys.path_importer_cache if k.startswith(archive)]
    assert len(importers) >= 3  # the zip, zpk/ and zpk/sub/
    del reads[:]
    importlib.invalidate_caches()  # first call after the import: one read to stamp
    assert reads.count(archive) <= 1
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_rewritten_archive_is_reloaded(zpkg):
    archive, files, reads = zpkg
    importlib.import_module("zpk.sub.a")
    importlib.invalidate_caches()
    write_zip(archive, {**files, "zpk/sub/b.py": "B = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) >= 1
    assert importlib.import_module("zpk.sub.b").B == 2


def test_deleted_archive_fails_cleanly(zpkg):
    archive, _files, _reads = zpkg
    importlib.import_module("zpk.sub.a")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zpk.sub.gone")


def test_installing_twice_does_not_wrap_twice():
    before = zipimport.zipimporter.invalidate_caches
    assert getattr(before, "_bms_stamped", False)  # installed by the package import
    patch_zipimport_invalidate()
    assert zipimport.zipimporter.invalidate_caches is before


def test_worker_tasks_after_the_first_read_no_zip(spark):
    """Each reused Python worker reports how many zip directory reads its
    process made since its first probe task; the set-up of every later
    task (PySpark calls importlib.invalidate_caches() per task) adds 0."""
    from pyspark.sql.functions import pandas_udf

    from baseline_magician_spark.pyship import ensure_shipped

    ensure_shipped(spark)

    def probe(ids):
        import os
        import zipimport

        import baseline_magician_spark  # noqa: F401  (as every engine kernel does)

        if not hasattr(zipimport, "_bms_probe_reads"):
            zipimport._bms_probe_reads = 0
            orig = zipimport._read_directory

            def counted(path, _orig=orig):
                zipimport._bms_probe_reads += 1
                return _orig(path)

            zipimport._read_directory = counted
        return ids.map(lambda _: f"{os.getpid()}:{zipimport._bms_probe_reads}")

    df = spark.range(0, 8, numPartitions=8).select(pandas_udf(probe, "string")("id").alias("r"))
    per_pid = defaultdict(list)
    # Idle workers are taken in turn, so a session that already started
    # many needs a few rounds before one of them serves a second task.
    for _ in range(8):
        for r in df.collect():
            pid, reads = r.r.split(":")
            per_pid[pid].append(int(reads))
        if max(len(v) for v in per_pid.values()) >= 2:
            break
    assert max(len(v) for v in per_pid.values()) >= 2, per_pid  # workers were reused
    assert all(n == 0 for v in per_pid.values() for n in v), per_pid
