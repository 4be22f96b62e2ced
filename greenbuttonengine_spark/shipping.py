"""Ship this package to executor Python workers.

Any Python-side stage (the ESPI parse UDF, applyInPandasWithState
operators) is pickled BY REFERENCE — workers must be able to
``import greenbuttonengine_spark``.  True when the driver launches from
the repo root, false otherwise; an ``addPyFile`` zip makes it
location-independent (the standard way to ship job code to a cluster).
``session.get_spark`` and the driver contract's ``queries()`` wrapper
ship it once per session, before any query is built.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def ensure_package_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, "_gbe_pkg_shipped", False):
        return
    import atexit
    import shutil
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_root = Path(__file__).resolve().parent
    zip_dir = tempfile.mkdtemp()
    # Spark copies the zip into its own files directory; the original
    # is only needed until the session ends
    atexit.register(shutil.rmtree, zip_dir, True)
    zip_path = Path(zip_dir) / "greenbuttonengine_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in pkg_root.rglob("*.py"):
            zf.write(py, arcname=str(py.relative_to(pkg_root.parent)))
    sc.addPyFile(str(zip_path))
    sc._gbe_pkg_shipped = True
