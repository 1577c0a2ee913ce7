"""Sinks: INSERT OVERWRITE / dynamic partitions / CTAS (SURVEY.md §2.1).

Hive locus: FileSinkOperator.java + SortedDynPartitionOptimizer.java.
Spark: DataFrameWriter. Each query here WRITES under .tmp/ and returns
the read-back — so the oracle checks the full write→read round trip
against the equivalent SELECT, which is stronger than the rows-only
check SURVEY §2.1 budgeted for these.

Scale notes: dynamic-partition writes must avoid the classic
small-files explosion — repartition by the partition column first so
each task writes one file per partition value (Hive's
SortedDynPartitionOptimizer did exactly this); at 100 TB add
``maxRecordsPerFile`` to bound file sizes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from layer_apache_hive_spark.catalog import read_table
from layer_apache_hive_spark.functions.numeric import sql_dsum
from layer_apache_hive_spark.registry import register
from layer_apache_hive_spark.session import TMP_ROOT


def _sink_dir(sf_dir: str, kind: str) -> str:
    label = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return f"{TMP_ROOT}/sinks/{label}/{kind}"


@register(
    "sink_insert_overwrite",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderstatus = 'F'
""",
)
def sink_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE DIRECTORY → parquet, then read back."""
    path = _sink_dir(sf_dir, "insert_overwrite")
    o = read_table(spark, sf_dir, "orders")
    (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


@register(
    "sink_dynamic_partition",
    oracle="""
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders WHERE o_totalprice > 100000
""",
)
def sink_dynamic_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition insert: partitionBy(o_orderpriority).

    repartition on the partition column first = one file per value per
    task (anti-small-files, Hive's SortedDynPartitionOptimizer move).
    Read-back exercises partition discovery; the partition column comes
    back from directory names, so its type is preserved as string —
    cast handled by selecting the original column order.
    """
    path = _sink_dir(sf_dir, "dyn_partition")
    o = read_table(spark, sf_dir, "orders")
    (
        o.filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartition("o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(path)
    )
    # explicit schema: an empty source writes zero partition dirs,
    # leaving nothing for read-back inference
    return spark.read.schema(
        "o_orderkey long, o_totalprice double, o_orderpriority string"
    ).parquet(path).select("o_orderkey", "o_totalprice", "o_orderpriority")


def _scratch_db(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """(Re)create a scratch database under the warehouse dir, cleaning
    stale files from prior sessions (same pattern as ddl_catalog)."""
    import shutil

    label = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    db = f"{prefix}_{label}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(warehouse.removeprefix("file:"), f"{db}.db"),
        ignore_errors=True,
    )
    spark.sql(f"CREATE DATABASE {db}")
    return db


@register(
    "sink_ctas",
    oracle="""
SELECT n_name, COUNT(*) AS n_suppliers
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n_name
""",
)
def sink_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS: a literal ``CREATE TABLE ... AS SELECT`` statement into a
    scratch database (parquet files under the warehouse dir), then a
    catalog read-back — the full Hive CTAS round trip, not a view."""
    db = _scratch_db(spark, sf_dir, "ctas_demo")
    read_table(spark, sf_dir, "supplier").createOrReplaceTempView("ctas_src_supplier")
    read_table(spark, sf_dir, "nation").createOrReplaceTempView("ctas_src_nation")
    spark.sql(
        f"""
        CREATE TABLE {db}.supplier_by_nation USING PARQUET AS
        SELECT /*+ BROADCAST(n) */ n_name, COUNT(*) AS n_suppliers
        FROM ctas_src_supplier s JOIN ctas_src_nation n
          ON s.s_nationkey = n.n_nationkey
        GROUP BY n_name
        """
    )
    return spark.table(f"{db}.supplier_by_nation")


@register(
    "sink_merge",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0
),
source AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
       COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice
FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
           AND s.o_totalprice > 500000)
""",
)
def sink_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation over a plain parquet table (Hive ACID
    MERGE without a transactional format): all three branches —
    WHEN MATCHED UPDATE, WHEN MATCHED (price > 500k) DELETE,
    WHEN NOT MATCHED INSERT — expressed as ONE full-outer join and a
    rewrite, then read back from disk.

    target = orders with key % 7 != 0 (committed as table version 1);
    source = orders with key % 3 == 0 at doubled price. The full-outer
    join is the scale shape: one shuffle on the merge key, no driver
    state. The rewrite commits through acid.VersionedTable — staged
    snapshot, then ONE atomic exclusive-create of the version-2
    manifest — so concurrent readers see version 1 or version 2,
    never a torn mid-overwrite directory, and a racing second writer
    loses the commit cleanly (tests/test_acid.py proves both). On a
    partitioned 100 TB table use commit_partitions to narrow the
    rewrite to touched partitions; a transactional table format would
    narrow it further to row groups.
    """
    import shutil

    from layer_apache_hive_spark.acid import VersionedTable

    root = _sink_dir(sf_dir, "merge_acid")
    shutil.rmtree(root, ignore_errors=True)  # reseed: idempotent per run
    vt = VersionedTable(root)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    vt.init(o.filter(F.col("o_orderkey") % 7 != 0))

    target = vt.read(spark, 1)
    source = o.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    t, s = target.alias("t"), source.alias("s")
    merged = (
        t.join(s, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full_outer")
        # WHEN MATCHED AND s.price > 500k THEN DELETE
        .filter(
            ~(
                F.col("t.o_orderkey").isNotNull()
                & F.col("s.o_orderkey").isNotNull()
                & (F.col("s.o_totalprice") > 500000)
            )
        )
        # WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT = coalesce(s, t)
        .select(
            F.coalesce("s.o_orderkey", "t.o_orderkey").alias("o_orderkey"),
            F.coalesce("s.o_custkey", "t.o_custkey").alias("o_custkey"),
            F.coalesce("s.o_totalprice", "t.o_totalprice").alias("o_totalprice"),
        )
    )
    vt.commit(merged, base_version=1)  # atomic: exclusive manifest create
    return vt.read(spark)


@register(
    "sink_multi_insert",
    oracle="""
SELECT 'hi' AS tier, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000
UNION ALL
SELECT 'lo', o_orderkey, o_totalprice FROM orders WHERE o_totalprice <= 50000
""",
)
def sink_multi_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive multi-insert: ``FROM src INSERT OVERWRITE t1 ... INSERT
    OVERWRITE t2 ...`` — ONE scan fanned into multiple sinks, the
    classic Hive ETL idiom (Spark SQL accepts the syntax verbatim).

    At 100 TB this halves input IO vs two separate INSERT statements:
    both branches share the scan stage and each branch's filter pushes
    into its own sink. Read-back of both tables (tier-tagged) is the
    checked result."""
    db = _scratch_db(spark, sf_dir, "multi_ins")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("multi_src")
    spark.sql(
        f"CREATE TABLE {db}.tier_hi (o_orderkey BIGINT, o_totalprice DOUBLE) USING PARQUET"
    )
    spark.sql(
        f"CREATE TABLE {db}.tier_lo (o_orderkey BIGINT, o_totalprice DOUBLE) USING PARQUET"
    )
    spark.sql(
        f"""
        FROM multi_src
        INSERT OVERWRITE TABLE {db}.tier_hi
          SELECT o_orderkey, o_totalprice WHERE o_totalprice > 200000
        INSERT OVERWRITE TABLE {db}.tier_lo
          SELECT o_orderkey, o_totalprice WHERE o_totalprice <= 50000
        """
    )
    hi = spark.table(f"{db}.tier_hi").select(
        F.lit("hi").alias("tier"), "o_orderkey", "o_totalprice"
    )
    lo = spark.table(f"{db}.tier_lo").select(
        F.lit("lo").alias("tier"), "o_orderkey", "o_totalprice"
    )
    return hi.unionByName(lo)


def _acid_seed(spark: SparkSession, sf_dir: str, kind: str):
    """(Re)seed a partitioned copy-on-write VersionedTable from orders
    as version 1.

    Partitioned by o_orderpriority (5 values) so row-level UPDATE /
    DELETE below can demonstrate the real COW shape: only the touched
    partition gets new files, the other four stay the base version's
    untouched bytes, and visibility flips with one atomic manifest
    create (acid.py).

    Idempotency is ROLLBACK, not reseed: the v1 seed is write-once
    (tagged on the source parquet's identity, the repo's fixture-tag
    convention), and repeated calls truncate the log back to v1 —
    exactly what a production fixture/admin reset does. A stale tag
    (regenerated testdata) rebuilds from scratch. This keeps the
    UPDATE/DELETE benchmarks measuring the rewrite + atomic flip,
    not a full base-table write per call."""
    import shutil

    from layer_apache_hive_spark.acid import VersionedTable

    root = _sink_dir(sf_dir, kind)
    st = os.stat(os.path.join(sf_dir, "orders.parquet"))
    tag = f"acid_seed:{st.st_mtime_ns}:{st.st_size}"
    tag_path = os.path.join(root, "SEED_TAG")
    vt = VersionedTable(root)
    try:
        with open(tag_path) as fh:
            fresh = fh.read().strip() == tag and 1 in vt.versions()
    except OSError:
        fresh = False
    if fresh:
        vt.rollback(1)
        return vt
    shutil.rmtree(root, ignore_errors=True)
    vt.commit_partitions(
        read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        ),
        "o_orderpriority",
        base_version=0,
    )
    with open(tag_path, "w") as fh:
        fh.write(tag + "\n")
    return vt


@register(
    "sink_update",
    oracle="""
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 5 = 0
            THEN o_totalprice + 100000.0 ELSE o_totalprice END AS o_totalprice,
       o_orderpriority
FROM orders
""",
)
def sink_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE emulated copy-on-write (Hive ACID ``UPDATE``
    without a transactional format — SURVEY §2.1's declared gap,
    closed by emulation like sink_merge does for MERGE).

    ``UPDATE t SET o_totalprice = o_totalprice + 100000
      WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 5 = 0``

    COW mechanics, the way Hive-on-parquet / Iceberg COW actually do
    it: (1) partition pruning narrows the read-modify-write to the one
    touched partition ('1-URGENT'); (2) the rewritten rows land in a
    NEW immutable snapshot directory — the job never overwrites what
    it reads, and the other 4 partitions are not read, not rewritten;
    (3) visibility flips with ONE atomic manifest create
    (acid.VersionedTable.commit_partitions), giving snapshot-isolated
    readers and first-committer-wins writers (tests/test_acid.py).
    Returned result is the read-back of the committed version, so the
    oracle checks the post-UPDATE table state. The +100000.0 double
    add is order-free IEEE math — bit-identical across engines (no
    rounding tie hazard)."""
    vt = _acid_seed(spark, sf_dir, "acid_update")
    touched = (
        vt.read(spark, 1)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 100000.0
            ).otherwise(F.col("o_totalprice")),
        )
    )
    vt.commit_partitions(
        touched, "o_orderpriority", base_version=1, touched_values=["1-URGENT"]
    )
    return vt.read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


@register(
    "sink_delete",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
WHERE NOT (o_orderpriority = '5-LOW' AND o_totalprice < 50000)
""",
)
def sink_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE emulated copy-on-write (Hive ACID ``DELETE``):

    ``DELETE FROM t WHERE o_orderpriority = '5-LOW'
      AND o_totalprice < 50000``

    Same COW shape as sink_update: prune to the one touched partition,
    stage survivors into a new snapshot dir, flip the manifest
    atomically. Unlike the old dynamic-overwrite emulation, the
    manifest protocol DOES cover deleting EVERY row of a partition:
    the commit declares '5-LOW' touched, and if the staged write
    produced no directory for it the value is dropped from the
    manifest — no stale files can survive a full-partition delete.
    Result = post-DELETE table state."""
    vt = _acid_seed(spark, sf_dir, "acid_delete")
    survivors = (
        vt.read(spark, 1)
        .filter(F.col("o_orderpriority") == "5-LOW")
        .filter(~(F.col("o_totalprice") < 50000))
    )
    vt.commit_partitions(
        survivors, "o_orderpriority", base_version=1, touched_values=["5-LOW"]
    )
    return vt.read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


@register(
    "sink_matview",
    oracle=f"""
SELECT n.n_name,
       COUNT(*) AS n_orders,
       {sql_dsum('o.o_totalprice')} AS total_revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_regionkey < 2
GROUP BY n.n_name
""",
)
def sink_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized view (Hive 3 ``CREATE MATERIALIZED VIEW`` +
    automatic query rewrite). Spark has no MV statement, so the
    pattern is rebuilt from parts: the view definition (per-nation
    order count + revenue) is MATERIALIZED write-once to parquet,
    keyed on the identity of every base table (orders, customer,
    nation) — the staleness contract Hive tracks via transaction ids —
    and the user query is SERVED FROM the materialization (here with a
    further filter on top, the "rewrite" case: predicate narrower
    than the MV grain).

    The oracle computes the same aggregate from the BASE tables in
    DuckDB, so it passes only if the materialization is both correct
    and fresh — a stale MV after a base-table change fails the value
    hash, which is exactly the regression an MV system must prevent.
    Scale: the MV build is the only shuffle; every query served from
    it is a scan of |groups| rows. Rebuilds are source-tag-driven; an
    incremental-maintenance MV narrows the rebuild to changed
    partitions.
    """
    import json

    from layer_apache_hive_spark.functions.numeric import dsum

    label = os.path.basename(sf_dir.rstrip("/")) or "sf"
    mv_dir = f"{TMP_ROOT}/matview/{label}/nation_revenue"
    tag = json.dumps(
        {
            t: (lambda s: [s.st_mtime_ns, s.st_size])(
                os.stat(f"{sf_dir}/{t}.parquet")
            )
            for t in ("orders", "customer", "nation")
        },
        sort_keys=True,
    )
    tag_path = f"{mv_dir}/_SOURCE_TAG"
    fresh = (
        os.path.exists(f"{mv_dir}/_SUCCESS")
        and os.path.exists(tag_path)
        and open(tag_path).read() == tag
    )
    if not fresh:
        o = read_table(spark, sf_dir, "orders")
        c = read_table(spark, sf_dir, "customer")
        n = read_table(spark, sf_dir, "nation")
        mv = (
            o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name", "n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice").alias("total_revenue"),
            )
        )
        mv.write.mode("overwrite").parquet(mv_dir)
        with open(tag_path, "w") as fh:
            fh.write(tag)
    # the user query: narrower predicate than the MV grain, served
    # entirely from the materialization (no base-table scan)
    return (
        spark.read.parquet(mv_dir)
        .filter(F.col("n_regionkey") < 2)
        .select("n_name", "n_orders", "total_revenue")
    )


@register(
    "sink_compaction",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem WHERE l_orderkey < 1000
""",
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (Hive ``ALTER TABLE ... CONCATENATE`` /
    minor compaction): a fragmented table — 64 tiny files, the classic
    outcome of streaming ingest or over-parallel writes — is rewritten
    into size-targeted files, then served from the compacted layout.

    The oracle pins the compacted relation value-equal to the source
    selection, which holds only if compaction is lossless; the file
    counts themselves are pinned by tests/test_driver_safety.py. At
    100 TB this is THE operational fix for scan-planning blowup (one
    task + one footer fetch per tiny file): target file count =
    ceil(bytes / 128MB), rewrite is map-only (coalesce, no shuffle),
    and per-partition compaction runs as this exact job filtered to
    one partition.
    """
    frag_dir = _sink_dir(sf_dir, "fragmented_lineitem")
    src = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )
    if not os.path.exists(f"{frag_dir}/_SUCCESS"):
        # the "ingest damage": 64 task-sized fragments
        src.repartition(64).write.mode("overwrite").parquet(frag_dir)

    frag = spark.read.parquet(frag_dir)
    frag_bytes = sum(
        os.path.getsize(os.path.join(frag_dir, f))
        for f in os.listdir(frag_dir)
        if f.endswith(".parquet")
    )
    target_files = max(1, -(-frag_bytes // (128 * 1024 * 1024)))
    comp_dir = _sink_dir(sf_dir, "compacted_lineitem")
    # coalesce, not repartition: compaction needs no shuffle, it only
    # narrows the file count (Hive's CONCATENATE is likewise move/merge)
    frag.coalesce(int(target_files)).write.mode("overwrite").parquet(comp_dir)
    return spark.read.parquet(comp_dir)


_Z_BITS = 8  # bits per dimension AFTER normalization


def _z_expr(a: str, b: str, shift_fmt: str, idiv: str) -> str:
    """Bit-interleaved Z-order key over NORMALIZED dimensions.

    Each column is first scaled to [0, 2^bits) by its own min/max —
    ((x − mn) · 2^bits) integer-div (mx − mn + 1) — because raw
    interleaving lets the wider-ranged column's high bits dominate
    the sort order and the narrow column degenerates into a plain
    secondary sort (measured: un-normalized, every file spanned the
    full custkey range — the skipping test caught it). Production
    OPTIMIZE ZORDER normalizes per-column exactly like this
    (rank-based under skew; linear is right for ~uniform keys).

    shift_fmt / idiv abstract the two syntax differences: Spark
    spells shifts as functions and integer division as DIV, DuckDB
    as <</>> and //; the integer math is identical either way.
    """
    na = f"((({a}) - mn_a) * {1 << _Z_BITS} {idiv} (mx_a - mn_a + 1))"
    nb = f"((({b}) - mn_b) * {1 << _Z_BITS} {idiv} (mx_b - mn_b + 1))"
    terms = []
    for i in range(_Z_BITS):
        terms.append(shift_fmt.format(col=na, right=i, left=2 * i + 1))
        terms.append(shift_fmt.format(col=nb, right=i, left=2 * i))
    return " + ".join(terms)


_SPARK_SHIFT = "shiftleft(shiftright(CAST({col} AS BIGINT), {right}) & 1, {left})"
_DUCK_SHIFT = "(((CAST({col} AS BIGINT) >> {right}) & 1) << {left})"


@register(
    "sink_zorder",
    oracle=f"""
WITH ext AS (
  SELECT MIN(o_custkey) AS mn_a, MAX(o_custkey) AS mx_a,
         MIN(o_orderkey) AS mn_b, MAX(o_orderkey) AS mx_b
  FROM orders
)
SELECT o_orderkey, o_custkey, o_totalprice,
       {_z_expr('o_custkey', 'o_orderkey', _DUCK_SHIFT, '//')} AS z
FROM orders, ext
""",
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write (Delta/Iceberg OPTIMIZE ZORDER BY,
    rebuilt from first principles): rows are range-partitioned and
    sorted by the bit-interleaved key of the min/max-NORMALIZED
    (o_custkey, o_orderkey) pair, so every output file covers a
    small RECTANGLE in the 2-D key space — parquet min/max stats
    then skip files for predicates on EITHER column, where a
    single-column sort only helps its own column (pinned by
    tests/test_round3_properties.py's file-stats check). This is the
    multi-dimensional data-skipping lever at 100 TB; the one-time
    write cost is a range exchange + in-partition sort.

    The z key is pure integer math, identical in both engines (and
    emitted as a result column so the oracle pins it); content
    equality of the read-back proves the clustering is invisible to
    query semantics — the compare is order-insensitive by contract.
    """
    path = _sink_dir(sf_dir, "zorder")
    o = read_table(spark, sf_dir, "orders")
    ext = o.agg(
        F.min("o_custkey").alias("mn_a"),
        F.max("o_custkey").alias("mx_a"),
        F.min("o_orderkey").alias("mn_b"),
        F.max("o_orderkey").alias("mx_b"),
    )
    o = o.crossJoin(F.broadcast(ext)).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.expr(
            _z_expr("o_custkey", "o_orderkey", _SPARK_SHIFT, "DIV")
        ).alias("z"),
    )
    (
        o.repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.schema(
        "o_orderkey long, o_custkey long, o_totalprice double, z bigint"
    ).parquet(path)


@register(
    "sink_time_travel",
    oracle=f"""
WITH v1 AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 <> 0
),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 50000.0
              ELSE o_totalprice END AS o_totalprice
  FROM v1 WHERE o_orderkey % 7 <> 0
)
SELECT 1 AS version, COUNT(*) AS n_rows,
       {sql_dsum('o_totalprice')} AS revenue FROM v1
UNION ALL
SELECT 2 AS version, COUNT(*) AS n_rows,
       {sql_dsum('o_totalprice')} AS revenue FROM v2
""",
)
def sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel — ``SELECT ... VERSION AS OF n`` over the
    acid.VersionedTable commit log (Hive doesn't have this; Delta/
    Iceberg made it table stakes for a transactional table, and the
    protocol gives it for free: every committed version is an
    immutable manifest + file set).

    The table gets two committed versions (v1 = seeded orders subset;
    v2 = a MERGE-shaped rewrite: delete key%7==0 rows, bump key%10==0
    prices), then BOTH versions are read AS OF their version number in
    one query — per-version row count and decimal-exact revenue. The
    oracle recomputes both version states from the source table, so a
    wrong manifest resolution, a torn snapshot, or cross-version file
    leakage all break the value match.

    Scale: version reads are manifest-resolved file scans — no log
    replay; history depth costs nothing at read time (vacuum bounds
    it on disk). The two pinned reads share nothing but the protocol,
    which is the point: old versions stay queryable while the head
    moves.
    """
    import shutil

    from layer_apache_hive_spark.acid import VersionedTable
    from layer_apache_hive_spark.functions.numeric import dsum

    root = _sink_dir(sf_dir, "time_travel")
    shutil.rmtree(root, ignore_errors=True)  # reseed: idempotent per run
    vt = VersionedTable(root)
    o = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 4 != 0)
    )
    vt.init(o)
    v2 = (
        vt.read(spark, 1)
        .filter(F.col("o_orderkey") % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 50000.0
            ).otherwise(F.col("o_totalprice")),
        )
    )
    vt.commit(v2, base_version=1)

    def stats(version: int) -> DataFrame:
        return (
            vt.read(spark, version)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                dsum("o_totalprice").alias("revenue"),
            )
            .select(F.lit(version).alias("version"), "n_rows", "revenue")
        )

    return stats(1).unionByName(stats(2))


@register(
    "sink_restore",
    oracle=f"""
WITH v1 AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
)
SELECT 3 AS head_version, 1 AS restored_from,
       COUNT(*) AS n_rows,
       {sql_dsum('o_totalprice')} AS revenue
FROM v1
""",
)
def sink_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``RESTORE TABLE t TO VERSION AS OF 1`` — the undo button Delta/
    Iceberg attach to a transactional table, over acid.VersionedTable.

    Scenario: v1 seeds the table, v2 is a bad job that dropped half
    the rows, restore(1) makes v1 the head again as a NEW commit (v3)
    whose manifest re-references v1's immutable files — zero data
    copied (asserted in-fn: v3 and v1 share the same snapshot dir),
    history preserved (v2 stays time-travel-readable until vacuum),
    and the restore serializes against concurrent writers through the
    same one-exclusive-create commit slot as any write.

    The result reads the POST-RESTORE head and reports the head
    version + restored_from lineage from the committed manifest; the
    oracle recomputes the v1 state from the source table, so a restore
    that copied the wrong snapshot, left the bad head in place, or
    mis-linked lineage breaks the value match.

    Scale: restore is O(1) data — one manifest write regardless of
    table size; exactly why log-structured commits beat rewriting a
    100 TB table back into shape.
    """
    import shutil

    from layer_apache_hive_spark.acid import VersionedTable
    from layer_apache_hive_spark.functions.numeric import dsum

    root = _sink_dir(sf_dir, "restore")
    shutil.rmtree(root, ignore_errors=True)  # reseed: idempotent per run
    vt = VersionedTable(root)
    vt.init(
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 3 == 0)
    )
    # the bad job: drops every even key, commits as v2
    vt.commit(vt.read(spark, 1).filter(F.col("o_orderkey") % 2 != 0),
              base_version=1)
    head = vt.restore(1)
    m_head, m_v1 = vt.manifest(head), vt.manifest(1)
    assert m_head["restored_from"] == 1 and head == 3, m_head
    assert m_head["snapshot"] == m_v1["snapshot"], (
        "restore must re-reference v1's files, not copy them"
    )
    return (
        vt.read(spark)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice").alias("revenue"),
        )
        .select(
            F.lit(head).alias("head_version"),
            F.lit(m_head["restored_from"]).alias("restored_from"),
            "n_rows",
            "revenue",
        )
    )


@register(
    "sink_cdc_feed",
    oracle=f"""
WITH u1 AS (
  SELECT o_orderkey, o_totalprice
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
chg AS (
  SELECT 'delete' AS change_type, o_totalprice
  FROM u1 WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT 'insert', 42.0 FROM u1 WHERE o_orderkey % 200 = 0
  UNION ALL
  SELECT 'update_preimage', o_totalprice FROM u1 WHERE o_orderkey % 10 = 5
  UNION ALL
  SELECT 'update_postimage', o_totalprice + 1000.0
  FROM u1 WHERE o_orderkey % 10 = 5
)
SELECT change_type, COUNT(*) AS n_rows,
       {sql_dsum('o_totalprice')} AS total_value
FROM chg GROUP BY change_type
""",
)
def sink_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two committed versions — Delta's
    ``table_changes`` / Iceberg's changelog scan, over the
    acid.VersionedTable commit log (Hive ACID exposes the same
    information as the delete/insert delta files its compactor reads).

    v1 seeds orders partitioned by priority; v2 rewrites ONLY the
    '1-URGENT' partition: deletes even keys, bumps key%10==5 prices
    (+1000.0, order-free IEEE add), inserts key%200==0 rows re-keyed
    to key+1e9. ``changes(1, 2)`` then emits every row tagged insert /
    delete / update_preimage / update_postimage, keyed on o_orderkey.

    Manifest pruning is asserted in-fn: of the 5 partition pointers,
    exactly 1 differs between the manifests, so the diff reads 1/5th
    of either version and spends ZERO I/O proving the other four are
    unchanged — identical pointer ⇒ identical immutable files. That is
    the 100 TB CDC contract: cost O(touched partitions), not O(table).
    The diff itself is one full-outer join on the key (one shuffle of
    the pruned sides, null-safe value compare).

    The oracle recomputes all four change classes from the source
    table, so a missed delete, a phantom update (row diffed when equal),
    or pre/post image swap breaks the per-class count + decimal-exact
    value sum.
    """
    from layer_apache_hive_spark.functions.numeric import dsum

    vt = _acid_seed(spark, sf_dir, "acid_cdc")
    u1 = vt.read(spark, 1).filter(F.col("o_orderpriority") == "1-URGENT")
    kept = u1.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 10 == 5, F.col("o_totalprice") + 1000.0
        ).otherwise(F.col("o_totalprice")),
    )
    inserted = u1.filter(F.col("o_orderkey") % 200 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        F.lit(-1).cast("long").alias("o_custkey"),
        F.lit(42.0).alias("o_totalprice"),
        "o_orderpriority",
    )
    vt.commit_partitions(
        kept.unionByName(inserted),
        "o_orderpriority",
        base_version=1,
        touched_values=["1-URGENT"],
    )
    feed, pruned = vt.changes(spark, 1, 2, ["o_orderkey"])
    # exactly the touched pointer differs (none on an empty corpus,
    # where the seed manifest has no partitions at all)
    parts1 = vt.manifest(1)["partitions"]
    expected = (1 if "1-URGENT" in parts1 else 0, len(parts1))
    assert pruned == expected, (
        f"sink_cdc_feed: expected the diff pruned to {expected} "
        f"partition pointers, got {pruned}"
    )
    return feed.groupBy(
        F.col("_change_type").alias("change_type")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_value"),
    )


@register(
    "sink_matview_incremental",
    oracle=f"""
SELECT o_orderpriority, 2 AS mv_version,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_revenue
FROM orders GROUP BY o_orderpriority
""",
)
def sink_matview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (Hive 3's
    ``ALTER MATERIALIZED VIEW ... REBUILD`` incremental path, HIVE
    ql/ddl MV rewrite): instead of recomputing the MV from the full
    base table on every refresh, aggregate ONLY the newly arrived
    delta and MERGE the partial aggregates into the stored MV —
    refresh cost O(|delta| + |groups|), not O(|base|).

    The MV (per-priority order count + revenue) stores its revenue as
    the DECIMAL(38,4) accumulator, NOT the final double: decimal sums
    are exact and order-independent, so partial(hist) + partial(delta)
    is bit-identical to a full recompute — the algebraic property that
    makes incremental maintenance sound for SUM/COUNT (AVG derives;
    MIN/MAX need delete-free deltas). The final cast to double happens
    once at read time, same as dsum.

    Each refresh commits through the VersionedTable log, so MV readers
    see the pre- or post-refresh view atomically, never a half-merged
    one, and DESCRIBE HISTORY lineage covers the MV like any table.
    The oracle recomputes the MV from the FULL base in DuckDB, so a
    wrong merge (dropped group, double-counted delta, lost history
    row) fails the value match.

    Scale: the delta aggregate is the only data-sized shuffle; the
    merge joins |groups| rows against |groups| rows — at 100 TB with
    a billion groups both sides stay keyed (no broadcast), still tiny
    next to a full rebuild's scan.
    """
    import shutil

    from layer_apache_hive_spark.acid import VersionedTable

    root = _sink_dir(sf_dir, "matview_inc")
    shutil.rmtree(root, ignore_errors=True)  # reseed: idempotent per run
    vt = VersionedTable(root)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    def partial(df: DataFrame, n_alias: str, rev_alias: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias(n_alias),
            F.sum(F.col("o_totalprice").cast("decimal(38,4)")).alias(
                rev_alias
            ),
        )

    # initial build: everything that has arrived so far
    vt.init(partial(o.filter(F.col("o_orderkey") % 5 != 4), "n", "rev"))
    # a new batch lands; refresh touches ONLY the delta + the MV
    delta = partial(o.filter(F.col("o_orderkey") % 5 == 4), "d_n", "d_rev")
    merged = (
        vt.read(spark, 1)
        .join(delta, on="o_orderpriority", how="full_outer")
        .select(
            "o_orderpriority",
            (
                F.coalesce("n", F.lit(0)) + F.coalesce("d_n", F.lit(0))
            ).alias("n"),
            (
                F.coalesce("rev", F.lit(0).cast("decimal(38,4)"))
                + F.coalesce("d_rev", F.lit(0).cast("decimal(38,4)"))
            ).cast("decimal(38,4)").alias("rev"),
        )
    )
    head = vt.commit(merged, base_version=1)
    return vt.read(spark, head).select(
        "o_orderpriority",
        F.lit(head).alias("mv_version"),
        F.col("n").alias("n_orders"),
        F.col("rev").cast("double").alias("total_revenue"),
    )


@register(
    "sink_acid_add_column",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_rows,
       COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS n_with_col,
       COUNT(CASE WHEN o_orderpriority = '5-LOW' AND o_orderkey % 3 = 0
                  THEN 1 END) AS n_flagged,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders GROUP BY o_orderpriority
""",
)
def sink_acid_add_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ... ADD COLUMN as a METADATA-ONLY commit over the
    VersionedTable log — Delta/Iceberg schema evolution semantics
    (Hive's ADD COLUMN likewise rewrites no data; old files read the
    new column as NULL).

    v1 seeds orders partitioned by priority (write-once seed). v2
    rewrites only the '5-LOW' partition WITH a new boolean column
    ``o_flag`` (key%3==0); the commit's manifest carries the evolved
    schema while the other four partitions keep pointing at v1's
    immutable files — asserted in-fn pointer-for-pointer, so the
    evolution provably copied zero bytes of untouched data. Reading
    the head null-fills ``o_flag`` for the old files from the manifest
    schema (acid.VersionedTable._read_parts).

    The result groups the head by priority and counts rows, non-null
    flags, and true flags: '5-LOW' rows all carry the column, every
    other partition reads it as NULL — which is exactly what the
    oracle pins (n_with_col = 0 off the evolved partition), plus the
    decimal-exact revenue proving no row was lost or duplicated in
    the evolution.

    Scale: ADD COLUMN on a 100 TB table is one manifest write; the
    null-fill is a plan-time projection on old files (no I/O), the
    same trick parquet readers use for schema-evolved scans.
    """
    from layer_apache_hive_spark.functions.numeric import dsum

    vt = _acid_seed(spark, sf_dir, "acid_add_column")
    low = (
        vt.read(spark, 1)
        .filter(F.col("o_orderpriority") == "5-LOW")
        .withColumn("o_flag", F.col("o_orderkey") % 3 == 0)
    )
    vt.commit_partitions(
        low, "o_orderpriority", base_version=1, touched_values=["5-LOW"]
    )
    m1, m2 = vt.manifest(1), vt.manifest(2)
    untouched = [v for v in m1["partitions"] if v != "5-LOW"]
    assert all(
        m2["partitions"][v] == m1["partitions"][v] for v in untouched
    ), "ADD COLUMN must not rewrite untouched partitions"
    return (
        vt.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_flag").alias("n_with_col"),
            F.count(F.when(F.col("o_flag"), 1)).alias("n_flagged"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


@register(
    "sink_optimize",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
""",
)
def sink_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE / bin-packing compaction THROUGH the commit log —
    Delta's ``OPTIMIZE`` / Hive ACID's minor compaction as a
    VersionedTable commit: small files are rewritten into big ones as
    a NEW version, the old fragmented version stays time-travel
    readable until vacuum, and readers flip atomically (never a
    half-compacted directory — the failure mode of in-place
    compaction that sink_compaction documents).

    The seed commits two priority partitions deliberately fragmented
    (8 write tasks per partition value); OPTIMIZE rewrites them at 1
    file per partition. Asserted in-fn:
    * file count drops to exactly one per partition (the bin-pack),
    * ``changes(1, 2)`` is EMPTY — compaction is a physical rewrite
      with ZERO logical change, i.e. it must emit NO CDC events
      (Delta marks compacted files dataChange=false for exactly this
      reason; here the guarantee is checked row-for-row with the
      engine's own change feed instead of trusted from a flag).

    The oracle pins the logical state to the source table, so a
    compaction that lost or duplicated a row fails the value match.
    Scale: compaction cost is O(touched partitions); the atomic flip
    is one manifest create, and pinned readers never block — the
    log-structured answer to the small-files problem streaming
    ingestion creates (evt_stream_acid_sink's per-batch commits are
    this query's natural producer).
    """
    import glob
    import shutil

    from layer_apache_hive_spark.acid import VersionedTable

    root = _sink_dir(sf_dir, "optimize")
    shutil.rmtree(root, ignore_errors=True)  # reseed: idempotent per run
    vt = VersionedTable(root)
    o = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    )
    # fragmented seed: up to 8 files per partition value, salted on
    # the key so the spread survives any input layout (a streaming
    # ingester's natural debris)
    vt.commit_partitions(
        o,
        "o_orderpriority",
        base_version=0,
        files_per_partition=8,
        file_salt=F.col("o_orderkey") % 8,
    )

    def n_files(version: int) -> int:
        m = vt.manifest(version)
        return sum(
            len(glob.glob(os.path.join(vt.snapshots_dir, rel, "*.parquet")))
            for rel in m["partitions"].values()
        )

    frag = n_files(1)
    vt.commit_partitions(
        vt.read(spark, 1), "o_orderpriority", base_version=1
    )  # default: one file per partition value — the bin-pack
    parts = len(vt.manifest(2)["partitions"])
    assert n_files(2) == parts <= 2 and (frag > parts or frag == 0), (
        f"sink_optimize: expected {parts} compacted files from {frag}"
    )
    feed, _ = vt.changes(spark, 1, 2, ["o_orderkey"])
    n_events = feed.count()
    assert n_events == 0, (
        f"sink_optimize: compaction must be logically invisible, but "
        f"the change feed emitted {n_events} events"
    )
    return vt.read(spark, 2)
