"""Ship the package to Spark Python workers, and keep their per-task
import set-up cheap.

Driver half, ``ship_package``: workers are separate Python processes
spawned by the JVM. They inherit neither driver-side ``sys.path`` edits
nor the driver's import state, so any pandas UDF whose closure references
this package needs the package distributed via
``SparkContext.addPyFile``. This builds (once per source mtime) a zip of
the package next to the repo and registers it: the local-mode equivalent
of ``spark-submit --py-files``, and exactly what a cluster deployment
would do.

Worker half, ``guard_worker_imports``: PySpark's
``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, even when
``sys.path`` has not changed. On Python 3.11 that re-reads the central
directory of every zip finder the worker holds. A reused worker holds
24: 12 for ``pyspark.zip`` (1328 entries), 2 for the ``spark-core`` jar
(5359), 8 for the package zip (70) and 2 for py4j. Measured inside a
worker, the call takes about 0.11 s: a fixed cost every task pays,
however few rows it holds. ``__init__.py`` installs the guard first, so
every package UDF runs it. Only in a PySpark worker (Spark's own
``SparkFiles._is_running_on_worker`` marker) does it wrap
``importlib.invalidate_caches`` to call the real function only when
``sys.path`` differs from its value at the last real call. Skipping is
safe: a zip added later by ``addPyFile`` is a new ``sys.path`` entry, a
``.py`` file landing in the SparkFiles directory is caught by
``FileFinder``'s own directory-mtime check, and a new application gets
new workers. The driver's function is left alone.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import zipfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_PKG_DIR)
_ZIP_PATH = os.path.join(_REPO_DIR, ".build", "gpd_lite_toolbox_spark.zip")

# keyed on the application id, not id(sc): a new context can reuse a
# stopped one's address, and would then never be shipped the package
_shipped: set[str] = set()


def _build_zip() -> str:
    src_mtime = 0.0
    files = []
    for root, _dirs, names in os.walk(_PKG_DIR):
        for n in names:
            if n.endswith(".py"):
                p = os.path.join(root, n)
                files.append(p)
                src_mtime = max(src_mtime, os.path.getmtime(p))
    os.makedirs(os.path.dirname(_ZIP_PATH), exist_ok=True)
    if not os.path.exists(_ZIP_PATH) or os.path.getmtime(_ZIP_PATH) < src_mtime:
        tmp = _ZIP_PATH + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in files:
                z.write(
                    p,
                    os.path.join(
                        "gpd_lite_toolbox_spark",
                        os.path.relpath(p, _PKG_DIR),
                    ),
                )
        os.replace(tmp, _ZIP_PATH)
    return _ZIP_PATH


def ship_package(spark) -> None:
    """Idempotently register the package zip with this session's workers."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _shipped:
        return
    sc.addPyFile(_build_zip())
    _shipped.add(key)


def guard_worker_imports() -> None:
    """In a PySpark worker, skip ``importlib.invalidate_caches()`` while
    ``sys.path`` is unchanged; elsewhere do nothing. Idempotent."""
    files = sys.modules.get("pyspark.core.files")
    on_worker = files is not None and files.SparkFiles._is_running_on_worker
    if on_worker and not hasattr(importlib.invalidate_caches, "__wrapped__"):
        importlib.invalidate_caches = _skip_unchanged_path(
            importlib.invalidate_caches
        )


def _skip_unchanged_path(real):
    # installed while a task runs, after that task's set-up made the
    # real call for the current sys.path
    seen = list(sys.path)

    @functools.wraps(real)
    def invalidate_caches() -> None:
        nonlocal seen
        if sys.path != seen:
            real()
            seen = list(sys.path)

    return invalidate_caches
