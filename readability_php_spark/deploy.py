"""Ship this package to Spark executors, and keep Python workers' import
caches from costing every task.

On a real cluster the job runs ``spark-submit --py-files rps.zip`` (north
rule); for library/driver-API use this helper builds the equivalent zip once
per process and registers it with ``SparkContext.addPyFile`` so Python
workers can unpickle the extraction UDF regardless of the driver's cwd or
sys.path.

A reused PySpark Python worker calls ``importlib.invalidate_caches()``
before every task, and CPython answers that by re-reading the central
directory of the archive behind every cached ``zipimport.zipimporter`` in
``sys.path_importer_cache``.  Besides one finder per archive on
``sys.path`` (the Spark jar, ``pyspark.zip``, ``py4j``, this package's
zip), the cache holds one per package directory *inside* an archive that
an import has searched (``pyspark.zip/pyspark/sql``, the jar's ``org``
directory, ...), and each of those re-reads its whole archive again.
:func:`drop_archive_dir_finders` deletes the latter at the end of each
extraction task (:func:`drop_archive_dir_finders_after` wraps each
``mapInPandas`` function of the extraction path), so the next task
re-reads only the archives on ``sys.path``.  The deleted entries are pure
caches: the next import that searches such a directory builds a new
finder from ``zipimport._zip_directory_cache`` without reading the
archive."""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import zipfile
import zipimport

_SHIPPED_ATTR = "_readability_php_spark_shipped"


def package_zip_path() -> str:
    import readability_php_spark

    pkg_dir = os.path.dirname(os.path.abspath(readability_php_spark.__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"readability_php_spark-{readability_php_spark.__version__}-py.zip",
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "readability_php_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
        os.replace(tmp, zip_path)
    return zip_path


def ship_package(spark) -> None:
    """Idempotent: register the package zip with the session's context."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    sc.addPyFile(package_zip_path())
    setattr(sc, _SHIPPED_ATTR, True)


def drop_archive_dir_finders() -> None:
    """Delete from ``sys.path_importer_cache`` every zipimporter whose key
    is not itself a ``sys.path`` entry — the finders for package
    directories inside archives (see the module docstring)."""
    entries = set(sys.path)
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and key not in entries:
            sys.path_importer_cache.pop(key, None)


def drop_archive_dir_finders_after(batches_fn):
    """Wrap a ``mapInPandas`` generator function so that, in a
    ``finally``, it calls :func:`drop_archive_dir_finders` when the task's
    generator ends (exhausted, closed or failed)."""

    @functools.wraps(batches_fn)
    def wrapped(batches):
        try:
            yield from batches_fn(batches)
        finally:
            drop_archive_dir_finders()

    return wrapped
