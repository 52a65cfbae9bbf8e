"""spark-submit packaging: ship the itemsjs_spark package to executors.

The engine's Arrow-batched UDF closures (tokenizer mapInPandas, callback
filters) unpickle on executors and import
``itemsjs_spark`` there. On a real cluster the package ships via
``spark-submit --py-files itemsjs_spark.zip`` (north_rule); for driver-side
entry points (the grader harness, notebooks) ``ensure_shipped(spark)``
builds the same zip on the fly and registers it with ``addPyFile`` so any
SparkSession works regardless of the launch directory.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set = set()


def build_pyfiles_zip(dest_path: str | None = None) -> str:
    """Zip the itemsjs_spark package (sources only) for --py-files."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    if dest_path is None:
        dest_path = os.path.join(
            tempfile.gettempdir(), f"itemsjs_spark_pyfiles_{os.getpid()}.zip"
        )
    with zipfile.ZipFile(dest_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return dest_path


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently attach the package zip to this SparkSession.

    Keyed on applicationId (stable per SparkContext), not id(spark): a
    stopped session's address can be reused by a new one, which would
    silently skip the addPyFile for the new context."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    zip_path = build_pyfiles_zip()
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)
