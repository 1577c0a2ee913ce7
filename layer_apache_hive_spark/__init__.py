"""layer_apache_hive_spark — a PySpark-native analytics engine.

A from-scratch engine delivering the query & data-processing surface of
the system deployed by the reference (juju-solutions/layer-apache-hive:
a Juju charm that stands up Apache Hive — HiveQL over HDFS; see
SURVEY.md §0.2), re-expressed Spark-first: DataFrame/SQL plans optimized
by Catalyst, plus driver-mandated LLM-data-pipeline extensions
(dedup, similarity search, multimodal columns, text analysis).

Public entry points:
    get_spark()          — configured SparkSession factory (session.py)
    load_tables()        — register the testdata tables (catalog.py)
    all_queries()        — {query_id: callable(spark, sf_dir) -> DataFrame}
    all_oracles()        — {query_id: DuckDB-ANSI-SQL twin}

The entry points load on first access (PEP 562), so importing the
package imports no pyspark: ``python -m layer_apache_hive_spark.pyworker``
must clean ``sys.path`` before pyspark is imported.
"""

import importlib

_EXPORTS = {
    "get_spark": "session",
    "load_tables": "catalog",
    "TABLES": "catalog",
    "all_queries": "registry",
    "all_oracles": "registry",
}

__all__ = list(_EXPORTS)
__version__ = "0.1.0"


def __getattr__(name):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    module = importlib.import_module(f"{__name__}.{_EXPORTS[name]}")
    return getattr(module, name)
