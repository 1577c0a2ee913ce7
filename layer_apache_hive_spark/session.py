"""SparkSession factory.

The reference's entire deployment lifecycle (Juju charm wiring
HiveServer2 + metastore + MySQL; SURVEY.md §3.1) collapses in Spark to
session construction: catalog + SQL engine live in-process.

Scale posture (SURVEY.md §7 step 7): AQE on (runtime re-plan, skew-join
split, post-shuffle coalesce), broadcast threshold for dimension
tables, ANSI off to match Hive's null-on-error cast semantics.
On a real cluster the same builder is used with ``master()`` /
``spark.sql.shuffle.partitions`` sized to the data (rule of thumb:
~128 MB per shuffle partition → 100 TB scan ⇒ O(100k) partitions,
set via config not code).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding this package: the checkout, for a source tree.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Python workers fork from ``pyworker``'s daemon, which drops Spark's
# bundled pyspark/py4j zips and the spark-core jar from their path (see
# its docstring). PYTHONPATH lets the daemon import this package from
# any working directory. Every session factory applies these.
WORKER_CONF = {
    "spark.python.daemon.module": "layer_apache_hive_spark.pyworker",
    "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT,
}


def get_spark(
    app_name: str = "layer-apache-hive-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Defaults target the test harness (local[$SPARK_GRAFT_CPUS]); on a
    cluster pass ``master=None`` and let spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Determinism / Hive-parity semantics
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")  # Hive: null-on-error casts
        # Adaptive execution: runtime re-plan at shuffle boundaries,
        # skew-join splitting, post-shuffle partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (region/nation/supplier) are broadcast-able.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas_udf / toPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet: vectorized reader + pushdown are default-on; keep
        # sane split sizing for the local harness.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.ts is INT64 TIMESTAMP(NANOS) parquet, which Spark's
        # µs TimestampType rejects outright; read as long and let
        # catalog.read_table normalize to µs (FIXTURES.md ns note).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode driver hosts executors + caches + broadcasts for
        # the whole 90-query bench; small heaps GC-thrash late in the
        # run (observed 3x slowdowns). On a cluster this is per-node
        # executor memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        # managed-table location (saveAsTable without explicit path);
        # kept under the gitignored scratch dir
        .config("spark.sql.warehouse.dir", os.path.join(PACKAGE_ROOT, ".tmp", "warehouse"))
    )
    for key, value in WORKER_CONF.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
