"""spark-submit --py-files packaging (north_rule shipping requirement).

:func:`build_pyfiles_zip` produces the zip handed to
``spark-submit --py-files``; :func:`ensure_shipped` is the in-process
equivalent — it registers the zip on a live SparkSession via
``addPyFile`` so Python workers can import ``i3dm_export_spark`` no
matter what the driver's cwd/sys.path looks like (pandas UDFs pickle
references to this module; without shipping, executors raise
ModuleNotFoundError when the session wasn't launched from the repo root).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_SHIPPED_SESSIONS: set[int] = set()


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the package (source only) for --py-files. Returns the zip path."""
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), "i3dm_export_spark_pyfiles.zip")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "i3dm_export_spark", os.path.relpath(full, _PKG_DIR)
                )
                zf.write(full, rel)
    return dest


def ensure_shipped(spark) -> None:
    """Idempotently ship the package to this session's Python workers."""
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    sc = spark.sparkContext
    zip_path = build_pyfiles_zip()
    sc.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


def map_kernel(kernel, frame, schema: str, by=None):
    """Run ``kernel``, a function from one pandas frame to another, on the
    side ``frame`` lives on — the one driver-vs-Spark switch of the
    kernels the export and the append write once.

    A pandas ``frame`` is the driver plan: the kernel runs on it whole.
    A Spark DataFrame is the Spark plan: the package is shipped and the
    same kernel runs once per partition through ``mapInPandas``, after a
    repartition on the ``by`` columns when it needs each key's rows
    together; it returns a DataFrame of ``schema``. A kernel must accept
    an empty frame."""
    import pandas as pd

    if isinstance(frame, pd.DataFrame):
        return kernel(frame)
    spark = frame.sparkSession
    ensure_shipped(spark)
    if by:
        frame = frame.repartition(
            max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1), *by
        )

    def run(batches):
        pdfs = list(batches)
        if pdfs:
            yield kernel(pd.concat(pdfs, ignore_index=True))

    return frame.mapInPandas(run, schema)
