"""Durable Hive metastore catalog — the reference charm's actual job.

The reference (`layer-apache-hive`) is a Juju charm whose entire
purpose is standing up a PERSISTENT shared Hive metastore (Thrift
service backed by MySQL) plus HiveServer2 in front of it
[upstream lib/charms/layer/bigtop_hive.py configure_hive(),
reactive/hive.py — public-knowledge reconstruction, SURVEY.md §0].
A table registered today is visible to every client tomorrow; that
durability IS the product.

Spark-first mapping: ``enableHiveSupport()`` gives Spark a real Hive
metastore client; an embedded Derby database under ``.tmp/metastore``
stands in for the charm's MySQL (same metastore schema, same Thrift
client codepath inside Spark — Derby is what ``schematool -dbType
derby`` provisions on a dev Hive too). The fixture corpus is
registered ONCE as EXTERNAL tables (``CREATE TABLE … USING PARQUET
LOCATION`` — schema over an existing path, DROP keeps data, exactly
Hive EXTERNAL semantics), and any later session — a *new JVM*, days
later — sees them by name with ``SHOW TABLES`` / ``spark.table``.
tests/test_metastore_server.py proves that with two sequential
fresh-JVM subprocesses.

On a production cluster the only change is configuration, not code:
point ``spark.hadoop.javax.jdo.option.ConnectionURL`` at the shared
MySQL/Postgres (or ``hive.metastore.uris`` at a remote Thrift
metastore — the charm's port 9083) and every executor/session shares
one catalog. Embedded Derby's single-process lock is a dev-mode
property, not a design property; the registration DDL below is
identical either way.

Scale: EXTERNAL-table registration stores only metadata (location,
schema, partition list) — O(tables), independent of data volume.
Partitioned corpora register with ``PARTITIONED BY`` + ``ALTER TABLE
… RECOVER PARTITIONS`` (MSCK) so partition pruning works off the
metastore, which is precisely why Hive deployments have a metastore
at all.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession

from layer_apache_hive_spark.catalog import TABLES, table_path
from layer_apache_hive_spark.session import SESSION_CONF, TMP_ROOT

DEFAULT_METASTORE_DIR = os.path.join(TMP_ROOT, "metastore")
DEFAULT_HIVE_WAREHOUSE = os.path.join(TMP_ROOT, "hive_warehouse")


def corpus_db(sf_dir: str) -> str:
    """Deterministic database name for one corpus directory.

    Keyed on the ABSOLUTE path (basename for readability + an 8-hex
    md5 of the resolved path for identity), so two corpora that share
    a basename — or a regenerated fixture at a new path — can never
    silently alias each other's registration.
    """
    resolved = os.path.realpath(os.path.abspath(sf_dir))
    label = resolved.rstrip("/").rsplit("/", 1)[-1].replace(".", "_").replace("-", "_")
    digest = hashlib.md5(resolved.encode()).hexdigest()[:8]
    return f"corpus_{label}_{digest}"


def hive_session(
    app_name: str = "layer-apache-hive-spark-metastore",
    metastore_dir: str = DEFAULT_METASTORE_DIR,
    warehouse_dir: str = DEFAULT_HIVE_WAREHOUSE,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A SparkSession whose catalog is the DURABLE Hive metastore.

    Must be the first session built in the JVM: the catalog
    implementation is frozen at SparkContext construction
    (``getOrCreate`` on an existing plain session would silently keep
    the in-memory catalog). Tests therefore run this in fresh
    subprocesses — which is also the point being proven.

    Embedded Derby admits ONE process at a time (dev mode); swap the
    ConnectionURL for MySQL/Postgres — or set ``hive.metastore.uris``
    to a remote metastore — for the charm's shared-service topology.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    os.makedirs(metastore_dir, exist_ok=True)
    db_path = os.path.join(metastore_dir, "metastore_db")
    # extraJavaOptions is a single string conf: MERGE the caller's
    # flags (e.g. auth.py's -Dhive.server2.custom.authentication.class)
    # with the derby.log flag instead of letting one overwrite the
    # other silently.
    extra_conf = dict(extra_conf or {})
    java_opts = f"-Dderby.stream.error.file={metastore_dir}/derby.log"
    caller_opts = extra_conf.pop("spark.driver.extraJavaOptions", "")
    if caller_opts:
        java_opts = f"{java_opts} {caller_opts}"
    merged = {
        "spark.hadoop.javax.jdo.option.ConnectionURL": (
            f"jdbc:derby:;databaseName={db_path};create=true"
        ),
        "spark.sql.warehouse.dir": warehouse_dir,
        "spark.driver.extraJavaOptions": java_opts,
        # same determinism pins as session.get_spark
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        **SESSION_CONF,
    }
    merged.update(extra_conf)
    builder = (
        SparkSession.builder.appName(app_name).master(master).enableHiveSupport()
    )
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate silently reuses any pre-existing session, dropping
    # every static conf above (catalog impl, classpath, CUSTOM auth…).
    # Fail loudly instead of coming up with the wrong catalog — or a
    # served endpoint that announces auth it doesn't have.
    for k in (
        "spark.hadoop.javax.jdo.option.ConnectionURL",
        "spark.driver.extraJavaOptions",
        *extra_conf,
    ):
        got = spark.conf.get(k, None)
        if got != merged[k]:
            raise RuntimeError(
                f"hive_session reused an existing SparkSession: conf "
                f"{k!r} is {got!r}, wanted {merged[k]!r}. Build the "
                "hive session FIRST in the process (fresh JVM)."
            )
    return spark


def provision_corpus(
    spark: SparkSession,
    sf_dir: str,
    metastore_dir: str = DEFAULT_METASTORE_DIR,
) -> str:
    """Register every fixture table as an EXTERNAL table, once.

    Idempotent (IF NOT EXISTS); re-running against an already
    provisioned metastore is a no-op, which is what lets a second
    session skip straight to ``spark.table``. Returns the database
    name. Metadata-only: nothing is copied or rewritten.

    Hive table locations are DIRECTORIES of files (the layout every
    writer produces); the fixtures are single parquet files, so each
    table gets a stable directory of symlinks under ``.tmp`` as its
    registered location — zero-copy, and the metastore's
    mkdir-on-create contract is satisfied.
    """
    db = corpus_db(sf_dir)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name in TABLES:
        loc = os.path.join(metastore_dir, "tables", db, name)
        os.makedirs(loc, exist_ok=True)
        link = os.path.join(loc, "part-00000.parquet")
        target = table_path(sf_dir, name)
        # Re-point a stale/broken link (moved or regenerated fixture)
        # instead of silently serving whatever it pointed at first.
        # A regular file at the link path (not a symlink) is also
        # stale; os.readlink would raise on it, so check islink first.
        repointed = False
        if os.path.lexists(link) and (
            not os.path.islink(link) or os.readlink(link) != target
        ):
            os.unlink(link)
            repointed = True
        if not os.path.lexists(link):
            os.symlink(target, link)
        if repointed:
            # CREATE IF NOT EXISTS would keep the previously inferred
            # schema; a regenerated fixture may have changed it (e.g.
            # events ts int64-ns vs timestamp-µs). Drop so the schema
            # re-infers from the new files.
            spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {db}.{name} "
            f"USING PARQUET LOCATION '{loc}'"
        )
    return db


def provision_partitioned_events(
    spark: SparkSession,
    sf_dir: str,
    metastore_dir: str = DEFAULT_METASTORE_DIR,
) -> str:
    """Register a DATE-PARTITIONED external events table — the layout
    every production Hive warehouse actually uses, and the reason the
    metastore exists: partition metadata lives in the catalog, so a
    date-filtered query PRUNES to the matching directories at
    planning time without listing the corpus.

    Idempotent: the partitioned parquet layout is written once under
    the metastore tables dir (dt=YYYY-MM-DD directories), then
    registered with ``PARTITIONED BY`` + ``ALTER TABLE … RECOVER
    PARTITIONS`` (Hive's MSCK REPAIR). A FRESH JVM sees the partition
    list via SHOW PARTITIONS and prunes from the metastore alone —
    proven in tests/test_metastore_server.py.

    Scale: the write is one shuffle keyed by the partition column;
    registration + recovery are metadata-only (O(partitions)).
    """
    from pyspark.sql import functions as F

    from layer_apache_hive_spark.catalog import read_table

    db = corpus_db(sf_dir)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    loc = os.path.join(metastore_dir, "tables", db, "events_by_day")
    ev = read_table(spark, sf_dir, "events")  # ts normalized to µs
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        (
            ev.withColumn("dt", F.to_date("ts"))
            .repartition("dt")
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(loc)
        )
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in ev.schema.fields
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {db}.events_by_day ({cols}, dt DATE) "
        f"USING PARQUET PARTITIONED BY (dt) LOCATION '{loc}'"
    )
    spark.sql(f"ALTER TABLE {db}.events_by_day RECOVER PARTITIONS")
    return db


def is_provisioned(spark: SparkSession, sf_dir: str) -> bool:
    """True iff every corpus table is visible in the metastore."""
    db = corpus_db(sf_dir)
    if not spark.catalog.databaseExists(db):
        return False
    have = {t.name for t in spark.catalog.listTables(db)}
    return set(TABLES) <= have
