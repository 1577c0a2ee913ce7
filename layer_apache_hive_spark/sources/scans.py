"""Source scans across storage formats (SURVEY.md §2.1).

Hive's SerDe model is schema-on-read over pluggable formats (TextFile,
ORC, Parquet, JSON, Avro). Spark ships all of them as DataSource V1/V2
readers with predicate pushdown + column pruning (parquet/ORC also get
row-group skipping from min/max stats).

The non-parquet scans materialize a small deterministic copy of the
``nation`` dimension (25 rows, scale-invariant) under .tmp/ and read
it back — exercising the real reader against the parquet-backed
oracle. The per-run write cost is trivial and keeps /root/testdata
read-only.

Sampling: Hive TABLESAMPLE(BUCKET x OUT OF y ON col) is a
deterministic hash filter. ``df.sample(fraction, seed)`` is
partition-order dependent, so the cross-engine form here hashes md5 of
the key — stable in any engine, any partitioning, any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from layer_apache_hive_spark.catalog import read_table
from layer_apache_hive_spark.registry import register
from layer_apache_hive_spark.session import PACKAGE_ROOT, TMP_ROOT


def _fixture_dir(sf_dir: str, kind: str) -> str:
    label = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return f"{TMP_ROOT}/scan_fixtures/{label}/{kind}"


_NATION_ORACLE = "SELECT n_nationkey, n_name, n_regionkey FROM nation"

_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@register(
    "scan_parquet",
    oracle="""
SELECT l_orderkey, l_partkey, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
""",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan with filter + projection pushed into the reader.

    .explain(formatted) shows PushedFilters: [GreaterThanOrEqual
    (l_shipdate,...)] and a 3-column ReadSchema — at 100 TB this reads
    3 of 11 columns and skips row-groups by min/max.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")).select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )


@register("scan_orc", oracle=_NATION_ORACLE)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan (Hive's native columnar format, SARG pushdown built-in)."""
    path = _fixture_dir(sf_dir, "nation_orc")
    n = read_table(spark, sf_dir, "nation")
    n.write.mode("overwrite").orc(path)
    return spark.read.orc(path).select("n_nationkey", "n_name", "n_regionkey")


@register("scan_text_csv", oracle=_NATION_ORACLE)
def scan_text_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-text scan (TextFile + LazySimpleSerDe, ROW FORMAT
    DELIMITED FIELDS TERMINATED BY '|') with an explicit read schema."""
    path = _fixture_dir(sf_dir, "nation_csv")
    n = read_table(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("sep", "|").option("header", "false").csv(path)
    return spark.read.schema(_NATION_SCHEMA).option("sep", "|").csv(path)


@register("scan_json", oracle=_NATION_ORACLE)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan (Hive JsonSerDe) with an explicit read schema."""
    path = _fixture_dir(sf_dir, "nation_json")
    n = read_table(spark, sf_dir, "nation")
    n.write.mode("overwrite").json(path)
    return spark.read.schema(_NATION_SCHEMA).json(path).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "sample_rows",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
""",
)
def sample_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE(BUCKET 1 OUT OF 10 ON key): deterministic ~10% hash
    sample — engine-portable (md5), partition-layout independent."""
    o = read_table(spark, sf_dir, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "1a"
    ).select("o_orderkey", "o_totalprice")


@register(
    "scan_sequencefile",
    oracle="""
SELECT n_nationkey, n_name FROM nation
""",
)
def scan_sequencefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SequenceFile round trip (Hive ``STORED AS SEQUENCEFILE``).

    SequenceFile is a Hadoop K/V container with no DataFrame source,
    so this is the one justified RDD touchpoint: write nation as
    (key=n_nationkey, value=n_name) via saveAsSequenceFile (built-in
    Hadoop writables, no extra jars), read back with
    ``sc.sequenceFile``, and lift straight into a DataFrame. At 100 TB
    the same pair-RDD path streams per-partition — no driver
    materialization — though any new pipeline should prefer
    parquet/ORC (columnar pruning, stats)."""
    label = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = f"{TMP_ROOT}/seq/{label}/nation_kv"
    if not os.path.exists(f"{path}/_SUCCESS"):
        # write-once fixture (same convention as the bucketed SMB
        # tables): the RDD job that encodes the writables is ~10x the
        # cost of the read this query is about
        n = read_table(spark, sf_dir, "nation")
        rows = n.select("n_nationkey", "n_name").rdd.map(tuple)
        if rows.isEmpty():
            # Hadoop's sequence writer derives the K/V writable
            # classes from the first record — an empty table has
            # none, and an empty relation is the correct round trip
            return spark.createDataFrame(
                [], "n_nationkey bigint, n_name string"
            )
        rows.saveAsSequenceFile(path)
    kv = spark.sparkContext.sequenceFile(path)
    # explicit schema: toDF() samples rows to infer and dies on an
    # empty table; the K/V writable types are fixed by the writer
    return spark.createDataFrame(
        kv, "n_nationkey long, n_name string"
    ).select(F.col("n_nationkey").cast("bigint"), "n_name")


@register(
    "scan_rcfile",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
)
def scan_rcfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RCFile round trip (Hive ``STORED AS RCFILE``, the pre-ORC
    columnar container).

    RCFile only exists behind Hive's serde stack, and Spark exposes
    that through a hive-catalog session — a STATIC conf the harness's
    live session may not carry. So the round trip runs write-once in a
    helper JVM (scripts/build_rcfile_fixture.py: parquet → RCFILE
    table → INSERT → SELECT back → round-trip parquet, with the raw
    RCFile bytes kept alongside as evidence), exactly how a real
    migration treats a legacy format: an ingest-time conversion, not a
    hot-path scan. This query reads the round-tripped relation; the
    oracle pins it value-equal to the source table, which is only true
    if the RCFile writer+reader preserved every row. Any new pipeline
    should store ORC/parquet instead (predicate pushdown, stats).
    """
    return spark.read.parquet(
        f"{_hive_serde_roundtrip(sf_dir, 'RCFILE')}/roundtrip"
    )


def _hive_serde_roundtrip(sf_dir: str, fmt: str) -> str:
    """Write-once Hive-serde round trip (helper hive-catalog JVM);
    returns the fixture dir containing roundtrip/ parquet + raw files.

    Keyed on the SOURCE file identity (mtime+size, like the shingle
    index) so a regenerated testdata tree invalidates the round trip
    instead of serving stale rows into an oracle comparison."""
    import subprocess
    import sys

    fixture = _fixture_dir(sf_dir, f"{fmt.lower()}_roundtrip")
    st = os.stat(f"{sf_dir}/nation.parquet")
    tag = f"{fmt}:{st.st_mtime_ns}:{st.st_size}"
    tag_file = f"{fixture}/_SOURCE_TAG"
    fresh = (
        os.path.exists(f"{fixture}/_SUCCESS")
        and os.path.exists(tag_file)
        and open(tag_file).read() == tag
    )
    if not fresh:
        subprocess.run(
            [
                sys.executable,
                os.path.join(
                    PACKAGE_ROOT, "scripts", "build_rcfile_fixture.py"
                ),
                sf_dir,
                fixture,
                fmt,
            ],
            check=True,
            capture_output=True,
        )
        with open(tag_file, "w") as fh:
            fh.write(tag)
    return fixture


@register(
    "scan_avro",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
)
def scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro round trip (Hive ``STORED AS AVRO``) — previously declared
    env-blocked because `spark.read.format('avro')` needs the external
    spark-avro module (PROBE_avro.json), but Hive's OWN AvroSerDe path
    works: the avro/avro-mapred jars ship with PySpark, so a
    hive-catalog helper JVM (same write-once machinery as scan_rcfile)
    writes nation to STORED AS AVRO and reads it back through the
    serde. The registered query reads the round-tripped relation; the
    oracle pins it value-equal to the source, which holds only if the
    Avro writer+reader preserved every row. Raw 'Obj\\x01' container
    files are kept alongside as evidence."""
    return spark.read.parquet(
        f"{_hive_serde_roundtrip(sf_dir, 'AVRO')}/roundtrip"
    )


@register(
    "scan_jdbc",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment, c_acctbal
FROM customer WHERE c_custkey < 500
""",
)
def scan_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC storage-handler round trip (Hive ``STORED BY
    JdbcStorageHandler`` / external RDBMS tables).

    Previously declared env-blocked ("no backing service") — but the
    Derby jars ship with PySpark and Derby's in-memory subprotocol IS
    a zero-install JDBC database, so the full path runs for real:
    ``df.write.jdbc`` into ``jdbc:derby:memory:``, then
    ``spark.read.jdbc`` back with a PARTITIONED read (4 bound ranges
    on the key → 4 parallel JDBC cursors) — the exact shape a 100 TB
    ingest uses against a warehouse RDBMS, where numPartitions and
    the bounds size the parallelism and per-task row volume. The
    key-range filter is pushed INTO the remote queries (JDBC
    pushdown), not applied after transfer. Derby uppercases
    identifiers, so the read-back is re-aliased to the canonical
    lowercase schema; the oracle pins value-equality to the source.
    """
    url = "jdbc:derby:memory:spark_graft_jdbc;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    c = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 500)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    )
    (
        c.write.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", "jdbc_customer")
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", "jdbc_customer")
        .option("partitionColumn", "C_CUSTKEY")
        .option("lowerBound", "1")
        .option("upperBound", "500")
        .option("numPartitions", "4")
        .load()
    )
    return back.select(
        F.col("C_CUSTKEY").alias("c_custkey"),
        F.col("C_NAME").alias("c_name"),
        F.col("C_MKTSEGMENT").alias("c_mktsegment"),
        F.col("C_ACCTBAL").alias("c_acctbal"),
    )


@register(
    "scan_partition_prune",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
""",
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning: a Hive partitioned table
    (``PARTITION (o_orderpriority)``) read back with a partition-key
    predicate — the scan must touch ONLY the matching directory.

    This is the single biggest scan lever at 100 TB: a pruned read is
    data-proportional to the partition, not the table. The physical
    plan carries the predicate as ``PartitionFilters`` (asserted in
    tests/test_plans.py), and the file listing never visits the other
    four priority directories.
    """
    path = _fixture_dir(sf_dir, "orders_part")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        o = read_table(spark, sf_dir, "orders")
        (
            o.select("o_orderkey", "o_orderstatus", "o_orderpriority")
            .repartition("o_orderpriority")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(path)
        )
    return (
        # explicit schema: an empty source writes zero partition dirs
        # and schema inference has nothing to read (partition-column
        # pruning works the same either way)
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_orderpriority string"
        )
        .parquet(path)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@register(
    "scan_parquet_evolution",
    oracle="""
SELECT
  COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_with_priority,
  COUNT(DISTINCT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END)
    AS n_priorities
FROM orders
""",
)
def scan_parquet_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet file generations (Hive ALTER
    TABLE ADD COLUMNS over an append-only table): generation 1 wrote
    (o_orderkey, o_totalprice); generation 2 added o_orderpriority.
    ``mergeSchema=true`` reconciles the footers — old files surface
    the new column as NULL, exactly Hive's read-time semantics.

    The fixture splits orders by orderkey parity into the two
    generations (write-once under .tmp); the oracle recomputes the
    same counts from the base table with parity standing in for
    file generation.

    Scale: schema merge is a FOOTER operation — per-file, no data
    read — so a decade of drifting schemas costs one listing pass.
    The default (mergeSchema off, use the latest schema) is the right
    production setting when footers are known-compatible; turning it
    on only changes planning cost, not the scan itself. Column
    pruning and filter pushdown still apply per-file after merge.
    """
    path = _fixture_dir(sf_dir, "evolution")
    if not os.path.exists(f"{path}/gen2/_SUCCESS"):
        o = read_table(spark, sf_dir, "orders")
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(f"{path}/gen1")
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.mode("overwrite").parquet(f"{path}/gen2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen1", f"{path}/gen2"
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


_BAD_CSV_LINES = "abc|BADROW|xyz\n7\n1|X|2|EXTRA|5\n12|HALF|zz\n"
# → 4 corrupt rows: full type failure, short row, extra fields,
#   partial type failure (k=12 parses, r fails). Parsed-k sum = 7+1+12.


@register(
    "scan_csv_permissive",
    oracle="""
SELECT COUNT(*) + 4 AS n_rows,
       COUNT(*) AS n_good,
       4 AS n_corrupt,
       CAST(SUM(n_nationkey) AS BIGINT) AS good_key_sum,
       20 AS corrupt_parsed_key_sum,
       COUNT(n_name) AS n_good_names,
       CAST(SUM(n_regionkey) AS BIGINT) AS good_region_sum
FROM nation
""",
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance (Hive LazySimpleSerDe's null-out
    behavior, Spark CSV PERMISSIVE mode): the fixture is the nation
    CSV plus a file of 4 broken lines — a full type failure, a short
    row, an extra-field row, and a partial type failure. PERMISSIVE
    keeps every row, retains the columns that did parse, and records
    the raw line in _corrupt_record; this query audits exactly that
    contract (row/ good/ corrupt counts, key sums over good and over
    partially-parsed corrupt rows).

    At 100 TB this is THE ingest posture decision: PERMISSIVE +
    corrupt-record accounting quarantines bad lines for replay
    without failing the job (FAILFAST) or silently dropping data
    (DROPMALFORMED). Scan-bound, one global aggregate.
    """
    path = _fixture_dir(sf_dir, "nation_csv_bad")
    if not os.path.exists(f"{path}/_SUCCESS"):
        n = read_table(spark, sf_dir, "nation")
        (
            n.select("n_nationkey", "n_name", "n_regionkey")
            .write.mode("overwrite")
            .option("sep", "|")
            .csv(path)
        )
        with open(f"{path}/part-bad.csv", "w") as fh:
            fh.write(_BAD_CSV_LINES)
    schema = T.StructType(
        list(_NATION_SCHEMA)
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(schema)
        .option("sep", "|")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    good = F.col("_corrupt_record").isNull()
    # the aggregate must touch EVERY data column: Spark's CSV reader
    # only parses columns the plan asks for (column pruning), and a
    # malformation in an unread column would go undetected — the
    # region sum below is both a real check and the full-parse anchor
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(good, 1)).alias("n_good"),
        F.count(F.when(~good, 1)).alias("n_corrupt"),
        F.sum(F.when(good, F.col("n_nationkey"))).alias("good_key_sum"),
        F.sum(F.when(~good, F.col("n_nationkey"))).alias(
            "corrupt_parsed_key_sum"
        ),
        F.count(F.when(good, F.col("n_name"))).alias("n_good_names"),
        F.sum(F.when(good, F.col("n_regionkey"))).alias("good_region_sum"),
    )


_BUCKET_SESSION_CACHE: dict = {}


@register(
    "scan_bucket_prune",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey = (SELECT MAX(o_orderkey) FROM orders
                    WHERE o_orderkey % 32 = 7)
""",
)
def scan_bucket_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket pruning on a point lookup (Hive's bucketed-table fast
    path / ``TABLESAMPLE(BUCKET x OUT OF y ON key)`` locality claim):
    an equality predicate on the bucketing key lets the scan open ONE
    bucket's files and skip the other n-1 entirely — data skipping by
    layout, before any row is read.

    Reuses the write-once bucketed orders table the SMB join pays for
    (ensure_bucketed_table): at 100 TB the same clustered layout
    serves co-located joins AND O(1/n)-scan point lookups, which is
    the whole economics of bucketing. The fn ASSERTS the executed
    plan reports ``SelectedBucketsCount: 1 out of 8`` — a plan that
    silently scanned all buckets (e.g. the predicate stopped being
    recognized as bucket-prunable) fails loudly rather than passing
    on values alone.

    The lookup key is data-derived (max orderkey ≡ 7 mod 32 — one
    bounded scalar agg, the documented driver-side-scalar exception),
    so the query works at every sf without a fixture literal; the
    oracle derives the same key via a scalar subquery.

    Planner note: Spark's DisableUnnecessaryBucketedScan rule turns
    bucketed reading off when no operator needs the bucket
    distribution — it does not account for bucket PRUNING, so the
    point lookup is planned on a cloned session (own SQLConf, shared
    context + catalog — the join_bloom pattern) with
    autoBucketedScan disabled; nothing is mutated on the caller's
    session.
    """
    from layer_apache_hive_spark.operators.joins import ensure_bucketed_table
    from layer_apache_hive_spark.plan_audit import explain_formatted

    app_id = spark.sparkContext.applicationId
    s2 = _BUCKET_SESSION_CACHE.get(app_id)
    if s2 is None:
        s2 = spark.newSession()
        s2.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        _BUCKET_SESSION_CACHE.clear()  # one live context at a time
        _BUCKET_SESSION_CACHE[app_id] = s2
    t = s2.table(
        ensure_bucketed_table(s2, sf_dir, "orders", "o_orderkey")
    )
    key = (
        t.filter(F.col("o_orderkey") % 32 == 7)
        .agg(F.max("o_orderkey"))
        .collect()[0][0]
    )
    if key is None:
        # empty corpus: no key ≡ 7 mod 32 exists; the oracle's scalar
        # subquery is NULL too, so both sides return zero rows
        return t.filter(F.lit(False)).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
    out = t.filter(F.col("o_orderkey") == F.lit(key)).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    plan = explain_formatted(s2, out)
    assert "SelectedBucketsCount: 1 out of 8" in plan, (
        "scan_bucket_prune: point lookup did not prune to one bucket "
        "— the layout-skipping claim would be vacuous:\n" + plan
    )
    return out


@register(
    "scan_data_skipping",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS total_qty,
       MIN(l_orderkey) AS min_key,
       MAX(l_orderkey) AS max_key
FROM lineitem
WHERE epoch_us(l_shipdate) >= epoch_us(TIMESTAMP '1996-01-01')
  AND epoch_us(l_shipdate) <  epoch_us(TIMESTAMP '1996-04-01')
""",
)
def scan_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping from footer statistics — Hive's ORC
    min/max row-group indexes / Iceberg's manifest value ranges,
    rebuilt on parquet footers: a range predicate prunes FILES before
    the scan ever schedules a task, by consulting only metadata.

    The fixture writes lineitem range-clustered on ship date
    (``repartitionByRange(16)``), so each file covers a tight
    interval. The reader then (1) builds a manifest of per-file
    min/max from the parquet FOOTERS via pyarrow — zero data pages
    read; (2) keeps only files whose [min,max] intersects the
    predicate interval; (3) scans just those files with the residual
    filter. An in-fn assert proves files were actually skipped (the
    3-month window covers ~1/27 of the 7-year span, so a clustered
    layout must prune most of the 16 files).

    The skip column is INT64 epoch-micros, not a raw timestamp:
    Spark's default INT96 parquet timestamps carry NO footer
    statistics, which is precisely why every production layout
    (Delta/Iceberg/Hudi) stores stats-bearing physical types. The
    oracle recomputes from the unclustered source, so a wrong prune
    (dropped file that held matching rows) breaks the value match,
    not just a perf counter.

    Scale: this is the third scan lever after partition pruning and
    column pruning — at 100 TB the manifest is itself a small table
    (1 row per file) consulted driver- or coordinator-side; clustering
    (Z-order for multi-column) is what keeps the ranges tight enough
    to skip. Conservative fallback: a file with missing stats is
    always kept.
    """
    import pyarrow.parquet as pq

    lo = 820454400000000  # 1996-01-01 UTC in epoch micros
    hi = 828316800000000  # 1996-04-01 UTC

    path = _fixture_dir(sf_dir, "lineitem_ranged")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        li = read_table(spark, sf_dir, "lineitem")
        (
            li.select(
                "l_orderkey",
                # NTZ source: cast interprets in the UTC session TZ,
                # matching the oracle's epoch_us over naive timestamps
                F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias(
                    "ship_us"
                ),
                "l_quantity",
            )
            .repartitionByRange(16, "ship_us")
            .write.mode("overwrite")
            .parquet(path)
        )

    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    kept: list[str] = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        fmin, fmax = None, None
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "ship_us"
            )
            st = col.statistics
            if st is None or not st.has_min_max:
                fmin = None  # stats missing: keep conservatively
                break
            fmin = st.min if fmin is None else min(fmin, st.min)
            fmax = st.max if fmax is None else max(fmax, st.max)
        if fmin is None or fmax is None or (fmax >= lo and fmin < hi):
            kept.append(f)
    if len(files) >= 8:
        assert len(kept) < len(files) // 2, (
            f"scan_data_skipping: expected the clustered layout to "
            f"skip most files, kept {len(kept)}/{len(files)}"
        )

    schema = "l_orderkey long, ship_us long, l_quantity double"
    if kept:
        scan = spark.read.schema(schema).parquet(*kept)
    else:  # empty corpus or fully-pruned window: same shape, no scan
        scan = spark.createDataFrame([], schema)
    return (
        scan.filter((F.col("ship_us") >= lo) & (F.col("ship_us") < hi))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(38,4)"))
            .cast("double")
            .alias("total_qty"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )
    )


@register("scan_xml", oracle=_NATION_ORACLE)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round trip `[upstream: Hive deployments read XML via the
    community XmlSerDe / XmlInputFormat; Spark 4 ships to_xml/from_xml
    natively]`: the nation dimension serialized to one XML record per
    line, read back as text and parsed with from_xml under an
    explicit schema — schema-on-read over markup, the LazySimpleSerDe
    story with angle brackets.

    Scale: to_xml/from_xml are per-row codegen expressions; the text
    scan splits like any line-oriented format, so parsing
    parallelizes per partition. Pushdown note: unlike parquet, a
    text-backed XML scan cannot skip row groups — the residual filter
    runs post-parse, which is why an ingest pipeline converts XML to
    columnar on first touch (sink_ctas) rather than re-scanning it.
    """
    path = _fixture_dir(sf_dir, "xml")
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    # to_xml pretty-prints one field per line; flatten to ONE record
    # per line so the line-oriented text scan keeps record boundaries
    n.select(
        F.regexp_replace(
            F.to_xml(F.struct("n_nationkey", "n_name", "n_regionkey")),
            r"\n\s*",
            "",
        ).alias("x")
    ).write.mode("overwrite").text(path)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    parsed = (
        spark.read.text(path)
        .select(F.from_xml("value", schema).alias("r"))
        .select("r.n_nationkey", "r.n_name", "r.n_regionkey")
    )
    return parsed


@register(
    "scan_binaryfile",
    oracle="""
SELECT 'n_' || CAST(n_nationkey AS VARCHAR) || '.bin' AS file_name,
       CAST((n_nationkey + 1) * (length('nation:' || CAST(n_nationkey AS VARCHAR) || ':' || n_name) + 1) AS BIGINT)
         AS length,
       md5(repeat('nation:' || CAST(n_nationkey AS VARCHAR) || ':' || n_name || chr(10),
                  n_nationkey + 1)) AS content_md5
FROM nation
""",
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary-payload ingest via Spark's ``binaryFile`` source
    — the scan every multimodal pipeline starts from (raw
    image/audio/video files on object storage become (path, length,
    modificationTime, content) rows; extensions/multimodal.py picks
    up from exactly this shape) `[upstream: Hive reads blobs through
    SequenceFile BytesWritable; binaryFile is Spark's native form]`.

    The fixture: one deterministic .bin file per nation row
    (text-derived bytes, content length varies per key), read back
    with binaryFile + a path glob, emitting name, size, and an md5
    of the raw bytes — the oracle recomputes all three from the
    dimension, so a truncated read, wrong file, or content corruption
    breaks values. Scale: binaryFile splits per FILE (content is one
    cell — ``spark.sql.files.maxPartitionBytes`` governs batching of
    small files, one task per large file), which is why the decode
    stage downstream is mapInPandas over whole payloads; the md5 here
    runs JVM-side per row.
    """
    import hashlib

    path = _fixture_dir(sf_dir, "binaryfile")
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    # bounded dimension (25 rows at every sf): driver-side file
    # materialization, the same pattern as the other format fixtures
    os.makedirs(path, exist_ok=True)
    for r in n.collect():
        content = (
            f"nation:{r['n_nationkey']}:{r['n_name']}\n"
            * (r["n_nationkey"] + 1)
        ).encode()
        with open(os.path.join(path, f"n_{r['n_nationkey']}.bin"), "wb") as fh:
            fh.write(content)
    b = spark.read.format("binaryFile").load(path)
    return b.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length"),
        F.md5("content").alias("content_md5"),
    )


# --- Hive full-ACID ORC layout (read compatibility) -------------------------


def _build_hive_acid_fixture(sf_dir: str, root: str) -> None:
    """Write a format-faithful Hive 3 full-ACID ORC table directory
    (public layout: base_N/ + delta_minWID_maxWID/ + delete_delta_*/
    of bucket_NNNNN ORC files whose rows carry the ACID struct —
    operation, originalTransaction, bucket, rowId, currentTransaction,
    row). PROBE_hive_acid.json establishes the jars cannot produce
    this layout (Spark's hive session writes a FLAT directory for
    transactional DDL and refuses UPDATE), so the fixture is written
    directly with pyarrow.orc — the same writer family Hive uses,
    minus the txn manager. Bucket ids are stored raw (Hive's
    BucketCodec bit-packs version/bucket/statement into this field; a
    migration reader would decode it first — documented delta).

    Change algebra over orders (replayed by the oracle):
      txn 1 (base):          o_orderkey % 3 = 0
      txn 2 (insert delta):  o_orderkey % 3 = 1 AND % 7 = 0
      txn 3 (delete delta):  base rows with o_orderkey % 5 = 0
    rowId is Hive's per-(txn, bucket) write-order ordinal: position
    within the bucket's rows ordered by o_orderkey."""
    import duckdb
    import pyarrow as pa
    from pyarrow import orc as pa_orc

    src = f"{sf_dir}/orders.parquet"
    # testdata ships single-file tables; derived fixtures (the stress
    # harness's replicated dirs) are Spark-written DIRECTORIES of
    # part files — glob them for DuckDB
    if os.path.isdir(src):
        src = f"{src}/*.parquet"
    con = duckdb.connect()

    def fetch(where: str):
        return con.sql(
            "SELECT o_orderkey, o_orderstatus, o_totalprice "
            f"FROM '{src}' WHERE {where} ORDER BY o_orderkey"
        ).fetch_arrow_table().to_pandas()

    def write_dir(dirname: str, frames_by_bucket: dict) -> None:
        d = os.path.join(root, dirname)
        os.makedirs(d, exist_ok=True)
        for b, tbl in frames_by_bucket.items():
            pa_orc.write_table(tbl, os.path.join(d, f"bucket_{b:05d}"))

    def acid_table(pdf, otid: int, op: int, bucket: int) -> "pa.Table":
        n = len(pdf)
        row = pa.StructArray.from_arrays(
            [
                pa.array(pdf["o_orderkey"], pa.int64()),
                pa.array(pdf["o_orderstatus"], pa.string()),
                pa.array(pdf["o_totalprice"], pa.float64()),
            ],
            names=["o_orderkey", "o_orderstatus", "o_totalprice"],
        )
        return pa.table(
            {
                "operation": pa.array([op] * n, pa.int32()),
                "originalTransaction": pa.array([otid] * n, pa.int64()),
                "bucket": pa.array([bucket] * n, pa.int32()),
                "rowId": pa.array(range(n), pa.int64()),
                "currentTransaction": pa.array([otid] * n, pa.int64()),
                "row": row,
            }
        )

    base = fetch("o_orderkey % 3 = 0")
    ins = fetch("o_orderkey % 3 = 1 AND o_orderkey % 7 = 0")
    base_by_bucket = {}
    del_by_bucket = {}
    for b in (0, 1):
        sub = base[base["o_orderkey"] % 2 == b].reset_index(drop=True)
        base_by_bucket[b] = acid_table(sub, 1, 0, b)
        # deletes reference the BASE row identity (otid=1, bucket,
        # rowId) of the %5 victims; currentTransaction is the deleter
        victims = sub.index[sub["o_orderkey"] % 5 == 0].to_numpy()
        del_by_bucket[b] = pa.table(
            {
                "operation": pa.array([2] * len(victims), pa.int32()),
                "originalTransaction": pa.array(
                    [1] * len(victims), pa.int64()
                ),
                "bucket": pa.array([b] * len(victims), pa.int32()),
                "rowId": pa.array(victims, pa.int64()),
                "currentTransaction": pa.array(
                    [3] * len(victims), pa.int64()
                ),
            }
        )
    write_dir("base_0000001", base_by_bucket)
    write_dir(
        "delta_0000002_0000002",
        {
            b: acid_table(
                ins[ins["o_orderkey"] % 2 == b].reset_index(drop=True),
                2,
                0,
                b,
            )
            for b in (0, 1)
        },
    )
    write_dir("delete_delta_0000003_0000003", del_by_bucket)


def _hive_acid_fixture(sf_dir: str) -> str:
    """Write-once ACID-layout fixture keyed on the source file
    identity (the _hive_serde_roundtrip convention)."""
    fixture = _fixture_dir(sf_dir, "hive_acid_table")
    st = os.stat(f"{sf_dir}/orders.parquet")
    tag = f"hive_acid:{st.st_mtime_ns}:{st.st_size}"
    tag_file = f"{fixture}/_SOURCE_TAG"
    if not (os.path.exists(tag_file) and open(tag_file).read() == tag):
        import shutil

        shutil.rmtree(fixture, ignore_errors=True)
        os.makedirs(fixture, exist_ok=True)
        _build_hive_acid_fixture(sf_dir, fixture)
        with open(tag_file, "w") as fh:
            fh.write(tag)
    return fixture


@register(
    "scan_hive_acid",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE (o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0)
   OR (o_orderkey % 3 = 1 AND o_orderkey % 7 = 0)
""",
)
def scan_hive_acid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a Hive 3 full-ACID ORC table IN PLACE — base + insert
    deltas merged, delete deltas applied — migrating nothing
    (`[upstream: deployed Hive ql/io/AcidUtils + orc acid reader]`,
    round-7 verdict task 8).

    Directory election is AcidUtils' (driver-side METADATA only):
    highest base_N wins, delta/delete_delta dirs with writeids above
    it apply on top. The files themselves are read DISTRIBUTED: the
    file list becomes a DataFrame, mapInPandas decodes each file with
    pyarrow.orc (PROBE_hive_acid.json: Spark's own ORC source crashes
    on ACID-schema files — its AcidUtils column remap feeds the batch
    reader an empty mapping — while Arrow reads them verbatim), and
    each decode task drops the rows its bucket's delete events name by
    Hive's row identity triple (originalTransaction, bucket, rowId).

    Scale: one task per ORC file (a 100 TB ACID table is many
    thousands of bucket files), and each task loads only its own
    bucket's delete events, which are tiny by nature — one Spark job
    per read, no join; nothing corpus-sized ever sits on the
    driver (the listing is dir entries, not rows). The oracle replays
    the fixture's change algebra over the orders view, so a missed
    delete, double-applied delta, or mis-parsed writeid breaks the
    value hash. The election + decode core lives in
    sources/hive_acid.py (r9: shared with the write-back exporter's
    round trip, sink_hive_acid).
    """
    from layer_apache_hive_spark.sources.hive_acid import read_hive_acid

    return read_hive_acid(
        spark,
        _hive_acid_fixture(sf_dir),
        [
            ("o_orderkey", "long"),
            ("o_orderstatus", "string"),
            ("o_totalprice", "double"),
        ],
    )
