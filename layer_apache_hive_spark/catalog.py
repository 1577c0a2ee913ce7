"""Catalog: external-table registration over the testdata parquet.

Hive's metastore (Thrift service + MySQL backing store — the exact
thing the reference charm wires up, SURVEY.md §1.1) maps to the Spark
catalog; for this repo the in-memory catalog + temp views over parquet
is the equivalent of Hive EXTERNAL TABLEs (schema over an existing
path, drop keeps data).

A table's schema is inferred from its parquet footers once per file
identity and kept in-process (``parquet_schema``), the stand-in for
the schema a metastore stores: later reads of an unchanged file pass
it to ``spark.read.schema(...)`` and run no inference job.

At 100 TB the same function body becomes
``spark.read.parquet('s3://…/table/')`` over a partitioned layout —
partition discovery + pruning are built into the source; nothing here
is scale-sensitive. (A path this process cannot stat, such as an
object-store URI, is inferred on every read, as before.)
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The ten driver-generated tables (FIXTURES.md).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; return the frames."""
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs


# Session confs under which the same parquet footers infer a different
# schema; their values are part of the schema cache's key.
INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# Inferred schemas by (path, file identities, inference confs). Entries
# are small; the cap only bounds a process that opens many scratch
# files, and reaching it starts the cache afresh.
_SCHEMAS: dict[tuple, StructType] = {}
_MAX_SCHEMAS = 256


def _file_identities(path: str) -> tuple | None:
    """(name, size, mtime_ns, inode) of every file ``path`` resolves to
    (itself, or every file under it for a directory table), or None
    when it is not a local path this process can stat."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((path, st.st_size, st.st_mtime_ns, st.st_ino),)
        files = []
        for d, dirs, names in os.walk(path):
            dirs.sort()
            for n in sorted(names):
                f = os.path.join(d, n)
                st = os.stat(f)
                files.append((f, st.st_size, st.st_mtime_ns, st.st_ino))
        return tuple(files)
    except OSError:  # missing, or raced with a rewrite: Spark reports it
        return None


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    file identity and inference conf.

    Each inference is a Spark job that opens the footers. Hive's
    metastore keeps a table's schema instead; here the schema of a
    file that has not changed is kept, and a rewrite (new size, mtime
    or inode, or a new part file in a directory) infers again."""
    files = _file_identities(path)
    if files is None:
        return spark.read.parquet(path).schema
    key = (
        os.path.abspath(path),
        files,
        tuple(spark.conf.get(c) for c in INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if len(_SCHEMAS) >= _MAX_SCHEMAS:
            _SCHEMAS.clear()
        _SCHEMAS[key] = schema
    return schema


def normalize_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` physical-type normalization: nanosecond int64 (read
    as long under nanosAsLong) or µs TIMESTAMP_NTZ → plain TimestampType.
    Under the UTC session timezone the wall-clock values match DuckDB's
    naive read either way."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table without registering a view (operator-level use).

    The schema comes from ``parquet_schema``, so a file already opened
    in this process is read without a schema-inference job; only the
    first read of each file (or of a rewrite of it) infers.

    ``events.ts`` has shipped as either nanosecond int64 (needs
    spark.sql.legacy.parquet.nanosAsLong + µs truncation) or µs
    timestamp with isAdjustedToUTC=false (which Spark ≥3.4 infers as
    TIMESTAMP_NTZ by default — rejected by streaming watermarks). Both
    are normalized by ``normalize_ts`` to plain TimestampType.
    """
    # Hive semantics are non-ANSI (CAST('x' AS INT) -> NULL, overflow
    # wraps). session.py sets this for sessions we build, but queries
    # must also hold under a vanilla session (e.g. a driver harness
    # with default configs, where PySpark 4 defaults ANSI on). It is a
    # runtime conf, so set it at read time like nanosAsLong below.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # Timestamp rendering (date_format, window boundaries, year())
    # follows the session timezone; the DuckDB oracle reads the same
    # parquet naively. Pin UTC at read time so a session we didn't
    # build (driver harness inheriting a non-UTC machine tz) can't
    # shift every rendered timestamp off the oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # runtime-settable, so this also covers sessions we didn't
        # build (e.g. a driver harness with default configs, where the
        # ns footer otherwise throws PARQUET_TYPE_ILLEGAL)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # µs-NTZ footers must surface as TIMESTAMP (LTZ), not
        # TIMESTAMP_NTZ: watermarks reject NTZ event time, and LTZ
        # under a UTC session is value-identical.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if os.environ.get("SPARK_GRAFT_USE_METASTORE") == "1":
        # Opt-in: resolve the table BY NAME through the session's
        # (durable Hive) catalog instead of a direct path read — the
        # mode scripts/verify_metastore.py uses to prove the operator
        # inventory is semantics-identical when tables come from the
        # metastore. Requires a hive_session() + provision_corpus().
        from layer_apache_hive_spark.metastore import corpus_db

        df = spark.table(f"{corpus_db(sf_dir)}.{name}")
    else:
        path = table_path(sf_dir, name)
        df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_ts(df)
    return df
