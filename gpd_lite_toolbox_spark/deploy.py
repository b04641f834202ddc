"""Ship the package to Spark Python workers.

Workers are separate Python processes spawned by the JVM: they inherit
neither driver-side ``sys.path`` edits nor the driver's import state, so
any pandas UDF whose closure references this package needs the package
distributed via ``SparkContext.addPyFile``. This builds (once per source
mtime) a zip of the package next to the repo and registers it — the
local-mode equivalent of ``spark-submit --py-files``, and exactly what a
cluster deployment would do.
"""

from __future__ import annotations

import os
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
