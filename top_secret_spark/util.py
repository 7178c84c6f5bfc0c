"""Deployment helpers."""

from __future__ import annotations

import os
import tempfile
import zipfile


def ship_package(spark) -> str:
    """Ship this package to executors (programmatic ``--py-files``).

    Zips ``top_secret_spark`` and registers it via ``addPyFile`` so
    executor Python workers can unpickle UDF closures that reference the
    package, regardless of the driver's cwd/sys.path.  Idempotent per
    SparkContext.  Returns the zip path, which ``spark-submit
    --py-files`` also accepts.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), "top_secret_spark_pkg.zip")
    if not getattr(spark.sparkContext, "_tss_shipped", False):
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_dir):
                for fn in filenames:
                    if fn.endswith((".py",)):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, root))
        spark.sparkContext.addPyFile(zpath)
        spark.sparkContext._tss_shipped = True
    return zpath
