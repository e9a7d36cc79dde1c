"""Ship this package to Spark Python workers via ``addPyFile``.

Pandas-UDF / mapInPandas closures are pickled by *module reference*
(cloudpickle serializes module-level classes and functions by name), so
executor Python workers must be able to import ``weaviate_txtai_spark``
too. When the package is pip-installed on every node this is automatic;
when it's used straight from a checkout (tests, the driver harness,
notebooks), the workers' ``sys.path`` doesn't include the checkout.

``ensure_shipped(spark)`` zips the package once per process into a
fresh, uniquely named temp file (removed at interpreter exit) and
registers it with ``addPyFile`` once per SparkContext — idempotent and
cheap (<50 ms). Every public API that crosses the Python boundary calls
it on construction.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()
_ZIP: str | None = None  # this process's package zip, built on first use


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _build_zip() -> str:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    # a name no other process can hold: a pid-derived name let a
    # recycled pid ship another process's stale zip
    fd, zpath = tempfile.mkstemp(prefix="weaviate_txtai_spark_", suffix=".zip")
    atexit.register(_remove, zpath)
    with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    return zpath


def ensure_shipped(spark: SparkSession) -> None:
    global _ZIP
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    if _ZIP is None:
        _ZIP = _build_zip()
    spark.sparkContext.addPyFile(_ZIP)
    _SHIPPED.add(key)
