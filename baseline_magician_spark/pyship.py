"""Ship this package to Python workers, and keep their per-task set-up cheap.

Operators built on mapInPandas/pandas UDFs close over functions in this
package; cloudpickle serializes those by reference, so every Python
worker must be able to ``import baseline_magician_spark``. The driver
contract gives us a bare SparkSession (no PYTHONPATH guarantees), so any
operator that runs Python on executors calls :func:`ensure_shipped`
first — it zips the package once per SparkContext and registers it with
``addPyFile``, which places it on the worker search path. On a real
cluster the same call distributes the package to every executor; no
deploy-time --py-files plumbing required.

Worker side, :func:`patch_zipimport_invalidate` (installed when the
package is imported, so a reused worker has it from its first task on)
stops every later task from re-reading each zip on ``sys.path``: PySpark
calls ``importlib.invalidate_caches()`` at the start of every task, and
before CPython 3.13 that re-reads the whole central directory of every
archive once per cached zipimporter (pyspark.zip, the py4j zip, this
package's zip and the spark-core jar: 17 reads, about 0.2 s of CPU per
task).
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(
        tempfile.mkdtemp(prefix="bms_pyfiles_"), f"{pkg_name}.zip"
    )
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


def _archive_stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def patch_zipimport_invalidate() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed.

    On CPython < 3.13 the method eagerly re-reads the archive's central
    directory, once per cached zipimporter (one per package directory
    inside a zip). The patched method stats the archive and, when its
    ``(st_ino, st_size, st_mtime_ns)`` equals the stamp of its last
    read, points the importer at the shared ``_zip_directory_cache``
    entry, which is what that read left there. A changed, missing or
    unreadable archive goes through the original method, so a rewritten
    zip is still reloaded and a deleted one still empties the importer.
    Archives already cached at install time are stamped then: in a
    Python worker this runs while the first task imports the package,
    moments after that task's set-up re-read every archive.

    A no-op on CPython >= 3.13 (whose method only drops the cache
    entry) or when zipimport lacks ``_zip_directory_cache``; idempotent
    (marked ``_bms_stamped``, like catalog's ``_bms_cached``)."""
    import zipimport

    cache = getattr(zipimport, "_zip_directory_cache", None)
    orig = zipimport.zipimporter.invalidate_caches
    if (
        sys.version_info >= (3, 13)
        or not isinstance(cache, dict)
        or getattr(orig, "_bms_stamped", False)
    ):
        return
    stamps = {archive: _archive_stamp(archive) for archive in list(cache)}

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        files = cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        orig(self)
        # Taken before the read: a write during it re-reads next time.
        stamps[self.archive] = stamp

    invalidate_caches._bms_stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
