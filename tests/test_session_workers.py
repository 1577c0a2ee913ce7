"""Python workers import pyspark from the installed package, not from
Spark's bundled archives (``layer_apache_hive_spark.pyworker``)."""

from __future__ import annotations

import sys
import zipfile

import pandas as pd
import pyspark

from layer_apache_hive_spark.pyworker import worker_path


def _worker_imports(batches):
    import os
    import zipimport

    import pyspark

    yield pd.DataFrame({
        "file": [pyspark.__file__],
        "version": [pyspark.__version__],
        "archives": [",".join(p for p in sys.path if os.path.isfile(p))],
        "zipimporters": [",".join(
            p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter))],
    })


def test_workers_import_pyspark_from_a_directory(spark):
    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(_worker_imports,
                     "file string, version string, archives string, zipimporters string")
        .collect()[0]
    )
    assert ".zip" not in row.file and ".jar" not in row.file, row.file
    assert row.version == pyspark.__version__
    assert row.archives == "", row.archives
    assert row.zipimporters == "", row.zipimporters


def test_worker_path_keeps_stock_path_on_version_mismatch(tmp_path):
    bundled = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(bundled, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", "__version__: str = '0.0.1'\n")
    jar = tmp_path / "spark-core.jar"
    jar.write_bytes(b"")
    path = [str(bundled), str(jar), *sys.path]
    assert worker_path(path) == path
