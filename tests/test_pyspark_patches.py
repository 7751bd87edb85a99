"""Version guards for the two pyspark-internal performance patches
(catalog._patch_pyspark_driver_overheads) and the worker-side zipimport
patch (pyship.patch_zipimport_invalidate). If a pyspark or CPython
upgrade changes what a patch relies on, these tests fail LOUDLY instead
of the optimization silently evaporating (ADVICE r11 #2)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_debugging_cache_attr_still_exists():
    import pyspark.errors.utils as eu

    assert hasattr(eu, "_enable_debugging_cache"), (
        "pyspark renamed errors.utils._enable_debugging_cache — the "
        "call-site-capture disable in catalog.py no longer applies; "
        "re-find the flag or retire the patch"
    )


def test_get_jvm_function_attr_still_exists():
    import pyspark.sql.functions.builtin as b

    assert hasattr(b, "_get_jvm_function"), (
        "pyspark renamed functions.builtin._get_jvm_function — the "
        "JVM function-handle cache in catalog.py no longer applies"
    )


def test_handle_cache_installed_and_transparent(spark):
    import pyspark.sql.functions.builtin as b

    # get_spark (the session fixture) installs the patch
    assert getattr(b._get_jvm_function, "_bms_cached", False)
    # cached handles still build working Columns, twice (cache hit)
    df = spark.range(3)
    for _ in range(2):
        rows = df.select(
            F.xxhash64(F.col("id")).alias("h"),
            F.sha1(F.col("id").cast("string").cast("binary")).alias("s"),
        ).collect()
        assert len(rows) == 3


def test_patch_is_idempotent():
    import pyspark.sql.functions.builtin as b

    from baseline_magician_spark.catalog import (
        _patch_pyspark_driver_overheads,
    )

    before = b._get_jvm_function
    _patch_pyspark_driver_overheads()
    assert b._get_jvm_function is before  # no double wrapping


def test_zipimport_patch_active_exactly_where_invalidate_is_eager():
    """pyship.patch_zipimport_invalidate pays off only where the stdlib
    zipimporter.invalidate_caches re-reads the archive eagerly (CPython
    3.11/3.12; 3.13 made it lazy). A version that changes that makes the
    two flags disagree with the pin below."""
    import sys
    import sysconfig
    import zipimport
    from pathlib import Path

    src = Path(sysconfig.get_path("stdlib"), "zipimport.py").read_text()
    body = src[src.index("    def invalidate_caches(self):") :]
    body = body[: body.index("\n    def ", 1)]
    eager = "_read_directory(self.archive)" in body
    patched = getattr(zipimport.zipimporter.invalidate_caches, "_bms_stamped", False)
    if sys.version_info[:2] in ((3, 11), (3, 12)):
        assert eager and patched
    else:
        assert sys.version_info >= (3, 13), "unpinned CPython version"
        assert not eager and not patched


def test_worker_setup_still_invalidates_import_caches():
    """The per-task cost the zipimport patch removes comes from this call;
    if PySpark drops it, the patch has nothing left to do."""
    import inspect

    import pyspark.worker_util as wu

    assert "importlib.invalidate_caches()" in inspect.getsource(wu.setup_spark_files)
