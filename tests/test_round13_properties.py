"""Round-13 pins, part 1: the five r12-advisor findings.

1. **Aborted/in-flight base never elects** (high): an INSERT
   OVERWRITE base whose writeid is invalid (ABORTed, crashed-then-
   recovered, or still OPEN) previously still won the base election,
   suppressed every committed delta ≤ W, and had its own events
   invalid-filtered at decode — the table read EMPTY. Hive's
   AcidUtils only elects a valid base (isValidBase).
2. **Cleaner consults the aborted set for bases** (high): with
   delta_1 committed and base_2 aborted, the old Cleaner deleted the
   committed delta (superseded by a base that never committed —
   unrecoverable data loss) and KEPT the aborted base. Now the
   aborted base is the debris and the delta survives.
3. **MERGE refuses what it cannot run** (medium): the old
   WHEN-clause regex silently dropped unmatched text ('WHEN NOT
   MATCHED BY SOURCE THEN DELETE' committed a partial MERGE). Spark's
   parser now reads every clause, and unsupported ones refuse.
4. **ABORT TRANSACTIONS is all-or-nothing** (low): every token
   validates before any abort applies — no partial effect behind a
   pure-failure message.
5. **Ledger appends are durable-first** (low): the fsync'd JSONL
   record lands BEFORE the in-memory transition, so a failed disk
   write never leaves this manager serving a state a successor will
   not replay.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from layer_apache_hive_spark.sources.hive_acid import (
    HiveWriteIdLedger,
    ValidWriteIdList,
    clean_hive_acid,
    hive_acid_insert,
    read_hive_acid,
    _elect_dirs,
)
from tests.test_round10_properties import SCHEMA, _fields
from tests.test_round12_properties import _scratch_entries

MM_DDL = "k long, status string, price double"


# --- 1. aborted/open base never elects ---------------------------------------


def _seed_delta_then_aborted_base(spark, tmp_path):
    """delta_1 committed, base_2 via IOW whose writeid ABORTS."""
    led = HiveWriteIdLedger(str(tmp_path / "l.jsonl"))
    root = str(tmp_path / "t")
    os.makedirs(root)
    df = spark.createDataFrame([(1, "A", 1.0), (2, "B", 2.0)], MM_DDL)
    w1 = led.allocate(root)
    hive_acid_insert(spark, root, df, SCHEMA, _fields(), w1)
    led.commit(root, w1)
    w2 = led.allocate(root)
    hive_acid_insert(
        spark,
        root,
        df.withColumn("k", F.col("k") + 100),
        SCHEMA,
        _fields(),
        w2,
        overwrite=True,
    )
    led.abort(root, w2)  # the IOW never committed
    return led, root, w1, w2


def test_aborted_base_not_elected_committed_deltas_survive(spark, tmp_path):
    led, root, w1, w2 = _seed_delta_then_aborted_base(spark, tmp_path)
    vw = led.valid_writeids(root)
    data, dels, originals, bounds = _elect_dirs(
        root, invalid=vw.invalid_ids
    )
    names = [os.path.basename(d) for d in data]
    assert f"base_{w2:07d}" not in names, names
    assert f"delta_{w1:07d}_{w1:07d}" in names, names
    got = {
        r.k
        for r in read_hive_acid(
            spark, root, SCHEMA, valid_writeids=vw
        ).collect()
    }
    assert got == {1, 2}  # previously: EMPTY


def test_open_base_not_elected_until_commit(spark, tmp_path):
    """Mid-IOW election (writeid OPEN) must keep serving the old
    snapshot; the instant the commit record lands the base elects."""
    led = HiveWriteIdLedger()
    root = str(tmp_path / "t")
    os.makedirs(root)
    df = spark.createDataFrame([(1, "A", 1.0)], MM_DDL)
    w1 = led.allocate(root)
    hive_acid_insert(spark, root, df, SCHEMA, _fields(), w1)
    led.commit(root, w1)
    w2 = led.allocate(root)
    hive_acid_insert(
        spark, root, df.withColumn("k", F.lit(9).cast("long")),
        SCHEMA, _fields(), w2, overwrite=True,
    )
    mid = {
        r.k
        for r in read_hive_acid(
            spark, root, SCHEMA, valid_writeids=led.valid_writeids(root)
        ).collect()
    }
    assert mid == {1}
    led.commit(root, w2)
    after = {
        r.k
        for r in read_hive_acid(
            spark, root, SCHEMA, valid_writeids=led.valid_writeids(root)
        ).collect()
    }
    assert after == {9}


def test_aborted_base_falls_back_to_next_valid_base(spark, tmp_path):
    """base_1 committed + base_2 aborted: election falls back to the
    next-highest VALID base instead of electing the aborted one."""
    led = HiveWriteIdLedger()
    root = str(tmp_path / "t")
    os.makedirs(root)
    df = spark.createDataFrame([(5, "A", 5.0)], MM_DDL)
    w1 = led.allocate(root)
    hive_acid_insert(spark, root, df, SCHEMA, _fields(), w1, overwrite=True)
    led.commit(root, w1)
    w2 = led.allocate(root)
    hive_acid_insert(
        spark, root, df.withColumn("k", F.lit(6).cast("long")),
        SCHEMA, _fields(), w2, overwrite=True,
    )
    led.abort(root, w2)
    got = {
        r.k
        for r in read_hive_acid(
            spark, root, SCHEMA, valid_writeids=led.valid_writeids(root)
        ).collect()
    }
    assert got == {5}


# --- 2. the ledger-aware Cleaner and bases -----------------------------------


def test_cleaner_keeps_committed_delta_removes_aborted_base(
    spark, tmp_path
):
    led, root, w1, w2 = _seed_delta_then_aborted_base(spark, tmp_path)
    removed = clean_hive_acid(root, aborted=led.aborted_ids(root))
    assert f"base_{w2:07d}" in removed, removed
    entries = sorted(os.listdir(root))
    assert f"delta_{w1:07d}_{w1:07d}" in entries, entries
    assert f"base_{w2:07d}" not in entries
    # and the data still reads after the clean
    got = {
        r.k
        for r in read_hive_acid(
            spark, root, SCHEMA, valid_writeids=led.valid_writeids(root)
        ).collect()
    }
    assert got == {1, 2}


def test_cleaner_never_reclaims_around_open_base(tmp_path):
    """An in-flight IOW base (writeid OPEN) supersedes nothing and is
    itself never removed — its outcome is unknown."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "delta_0000001_0000001"))
    os.makedirs(os.path.join(root, "base_0000002"))
    removed = clean_hive_acid(root, open_ids=frozenset({2}))
    assert removed == []
    assert sorted(os.listdir(root)) == [
        "base_0000002", "delta_0000001_0000001"
    ]


# --- 3-4. wire-surface fixes --------------------------------------------------


@pytest.fixture()
def mgr13(spark, tmp_path):
    from layer_apache_hive_spark.acid import TransactionCatalog
    from layer_apache_hive_spark.txn import TxnSessionManager

    cat = TransactionCatalog(str(tmp_path / "cat"))
    led = HiveWriteIdLedger(str(tmp_path / "ledger.jsonl"))
    mgr = TxnSessionManager(spark, cat, publish=False, ledger=led)
    root = str(tmp_path / "acid13")
    os.makedirs(root)
    seed = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", 2.0), (3, "B", 3.0)], MM_DDL
    )
    w = led.allocate(root)
    hive_acid_insert(spark, root, seed, SCHEMA, _fields(), w, n_buckets=2)
    led.commit(root, w)
    mgr.enroll_hive_acid("acid13", root, SCHEMA, _fields(), n_buckets=2)
    return mgr, root


def _view13(spark):
    return {
        (r.k, r.price)
        for r in spark.table("global_temp.acid13").collect()
    }


def test_merge_unsupported_clause_refused_not_dropped(spark, mgr13):
    mgr, root = mgr13
    spark.createDataFrame([(2, "S", 20.0)], MM_DDL).createOrReplaceTempView(
        "r13_merge_src"
    )
    out = mgr.handle(
        "m1",
        "MERGE INTO acid13 t USING r13_merge_src s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET price = s.price",
    )
    assert out.startswith("ERR_"), out
    assert "unsupported MERGE clause" in out, out
    # nothing committed: no partial MERGE (previously the UPDATE ran)
    assert _view13(spark) == {(1, 1.0), (2, 2.0), (3, 3.0)}
    assert sorted(os.listdir(root)) == ["delta_0000001_0000001"]


def test_merge_embedded_case_when_applies(spark, mgr13):
    """A CASE WHEN inside a MERGE SET value is one expression of
    Spark's parse tree, so its WHEN/THEN/ELSE keywords never split the
    clause list: the matched row takes the CASE result."""
    mgr, root = mgr13
    spark.createDataFrame(
        [(2, "S", 20.0), (3, "S", -1.0)], MM_DDL
    ).createOrReplaceTempView("r13_case_src")
    out = mgr.handle(
        "m1",
        "MERGE INTO acid13 t USING r13_case_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET price = "
        "CASE WHEN s.price > 0 THEN s.price ELSE t.price END",
    )
    assert out.startswith("DONE:Committed writeid 2"), out
    assert _view13(spark) == {(1, 1.0), (2, 20.0), (3, 3.0)}


def test_merge_default_aliases_resolve_via_struct_columns(spark, mgr13):
    """The r13 one-join MERGE derivation (_merge_event_frames) carries
    target/source rows as STRUCT columns named by the statement
    aliases; when the statement omits aliases those default to the
    TABLE and SOURCE names — this pins that `acid13.k = r13_noalias.k`
    resolves through the struct naming exactly as the per-clause
    temp-view joins did."""
    mgr, root = mgr13
    spark.createDataFrame([(2, "S", 20.0), (9, "S", 9.0)], MM_DDL).createOrReplaceTempView(
        "r13_noalias"
    )
    out = mgr.handle(
        "m1",
        "MERGE INTO acid13 USING r13_noalias "
        "ON acid13.k = r13_noalias.k "
        "WHEN MATCHED THEN UPDATE SET price = r13_noalias.price "
        "WHEN NOT MATCHED THEN INSERT VALUES "
        "(r13_noalias.k, r13_noalias.status, r13_noalias.price)",
    )
    assert out.startswith("DONE:"), out
    assert _view13(spark) == {(1, 1.0), (2, 20.0), (3, 3.0), (9, 9.0)}


def test_abort_transactions_all_or_nothing(spark, mgr13):
    mgr, root = mgr13
    assert mgr.handle("s1", "BEGIN").startswith("ACTIVE:")
    assert mgr.handle(
        "s1", "INSERT INTO acid13 SELECT 7 AS k, 'C' AS s, 7.0 AS p"
    ).startswith("ACTIVE:Buffered")
    out = mgr.handle("admin", "ABORT TRANSACTIONS s1 nonsense-token")
    assert out.startswith("ERR_ENDED:") and "nothing aborted" in out, out
    # s1's buffer must be INTACT (previously it was already dropped)
    out = mgr.handle("s1", "COMMIT")
    assert out.startswith("DONE:Committed 1 statements"), out
    assert (7, 7.0) in _view13(spark)


def test_abort_transactions_rejects_non_open_writeid(spark, mgr13):
    mgr, root = mgr13
    # writeid 1 is COMMITTED: aborting it must refuse upfront
    out = mgr.handle("admin", "ABORT TRANSACTIONS acid13:writeid-1")
    assert out.startswith("ERR_ENDED:") and "not open" in out, out
    assert _view13(spark) == {(1, 1.0), (2, 2.0), (3, 3.0)}


# --- 5. ledger durability ordering -------------------------------------------


def test_ledger_append_is_durable_first(tmp_path):
    led = HiveWriteIdLedger(str(tmp_path / "l.jsonl"))
    root = str(tmp_path / "t")
    os.makedirs(root)
    w = led.allocate(root)
    # simulate a dead disk: the JSONL path becomes unwritable
    led.path = str(tmp_path / "gone" / "l.jsonl")
    with pytest.raises(OSError):
        led.commit(root, w)
    # in-memory state must NOT have applied the commit: the record
    # never became durable, so a successor would still see it OPEN
    assert led.entries(root)[w] == "open"
    led.path = str(tmp_path / "l.jsonl")
    led.commit(root, w)  # and the retry works
    assert led.entries(root)[w] == "committed"


# --- part 2: partitioned transactional layouts (r13 verdict task 1) ----------


from layer_apache_hive_spark.sources.hive_acid import (  # noqa: E402
    HIVE_DEFAULT_PARTITION,
    hive_acid_delete,
    hive_acid_insert,
    hive_acid_update,
    next_writeid,
    partition_dirs,
    partition_subdir,
)


@pytest.fixture()
def part_root(spark, tmp_path):
    """Three-partition layout seeded by one dynamic INSERT: identical
    (otid, bucket, rid) identity triples exist in EVERY partition —
    the cross-contamination trap the partitioned reader must key its
    delete anti-join around."""
    led = HiveWriteIdLedger()
    root = str(tmp_path / "pt")
    os.makedirs(root)
    rows = [
        (k, "A", float(k), part)
        for part in ("X", "Y", "Z")
        for k in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows, MM_DDL + ", p string")
    w = led.allocate(root)
    hive_acid_insert(
        spark, root, df, SCHEMA, _fields(), w, n_buckets=1,
        partition_col="p",
    )
    led.commit(root, w)
    return led, root


def test_partitioned_identities_independent_across_partitions(
    spark, part_root
):
    """DELETE k=2 in partition X only: Y and Z carry the SAME
    identity triple for their k=2 rows (one bucket, same insertion
    order) and must survive — an anti-join missing the partition key
    deletes all three."""
    led, root = part_root
    w = led.allocate(root)
    hive_acid_delete(
        spark, root, SCHEMA, _fields(), w, partition_col="p",
        pred="p = 'X' AND k = 2",
        valid_writeids=led.valid_writeids(root),
    )
    led.commit(root, w)
    got = sorted(
        (r.k, r.p)
        for r in read_hive_acid(
            spark, root, SCHEMA, partition_col="p",
            valid_writeids=led.valid_writeids(root),
        ).collect()
    )
    assert got == [
        (1, "X"), (1, "Y"), (1, "Z"),
        (2, "Y"), (2, "Z"),
        (3, "X"), (3, "Y"), (3, "Z"),
    ]


def test_partition_pruning_is_structural(spark, part_root):
    """partition_values bounds the election BEFORE file listing: the
    pruned plan's manifest must not reference other partitions' files
    (checked on the physical plan text — the decode sources are
    createDataFrame manifests of path strings)."""
    led, root = part_root
    pruned = read_hive_acid(
        spark, root, SCHEMA, partition_col="p", partition_values=["Y"],
        valid_writeids=led.valid_writeids(root),
    )
    assert {r.p for r in pruned.collect()} == {"Y"}
    # structural: re-run the driver-side election exactly as the
    # reader does and pin that only p=Y files enter the manifest
    from layer_apache_hive_spark.sources.hive_acid import _elect_dirs

    elected = {
        v: _elect_dirs(d)[0]
        for v, d in partition_dirs(root, "p")
    }
    assert all(elected.values())  # every partition HAS files…
    # …but the pruned read touched only Y's: its rows' file-lineage
    # is Y-only (k values are identical across partitions, so any
    # cross-partition leak would show as duplicate rows above)
    assert pruned.count() == 3


def test_partitioned_writeids_are_table_level(spark, part_root):
    led, root = part_root
    # every partition consumed writeid 1; the NEXT id clears them all
    assert next_writeid(root) == 2
    assert next_writeid(partition_subdir(root, "p", "X")) == 2


def test_partitioned_update_refuses_partition_column_set(
    spark, part_root
):
    led, root = part_root
    with pytest.raises(ValueError, match="partition column"):
        hive_acid_update(
            spark, root, SCHEMA, _fields(), 9,
            [("p", "'Z'")], partition_col="p",
        )


def test_partitioned_null_value_roundtrips_default_partition(
    spark, tmp_path
):
    led = HiveWriteIdLedger()
    root = str(tmp_path / "pt")
    os.makedirs(root)
    df = spark.createDataFrame(
        [(1, "A", 1.0, "X"), (2, "B", 2.0, None)], MM_DDL + ", p string"
    )
    w = led.allocate(root)
    hive_acid_insert(
        spark, root, df, SCHEMA, _fields(), w, partition_col="p"
    )
    led.commit(root, w)
    assert os.path.isdir(
        os.path.join(root, f"p={HIVE_DEFAULT_PARTITION}")
    )
    got = {
        (r.k, r.p)
        for r in read_hive_acid(
            spark, root, SCHEMA, partition_col="p",
            valid_writeids=led.valid_writeids(root),
        ).collect()
    }
    assert got == {(1, "X"), (2, None)}


# --- part 2b: the partitioned wire surface ------------------------------------


@pytest.fixture()
def pmgr13(spark, tmp_path):
    from layer_apache_hive_spark.acid import TransactionCatalog
    from layer_apache_hive_spark.sources.hive_acid import (
        HiveAcidInitiator,
    )
    from layer_apache_hive_spark.txn import TxnSessionManager

    led = HiveWriteIdLedger(str(tmp_path / "ledger.jsonl"))
    init = HiveAcidInitiator(
        spark, delta_num_threshold=10_000, delta_pct_threshold=10_000.0
    )
    mgr = TxnSessionManager(
        spark,
        TransactionCatalog(str(tmp_path / "cat")),
        publish=False,
        ledger=led,
        initiator=init,
    )
    root = str(tmp_path / "pt13")
    os.makedirs(root)
    mgr.enroll_hive_acid(
        "pt13", root, SCHEMA, _fields(), n_buckets=2, partition_col="p"
    )
    return mgr, root, init


def _pview(spark):
    return sorted(
        (r.k, r.price, r.p)
        for r in spark.table("global_temp.pt13").collect()
    )


def test_wire_partitioned_static_override_and_iow_one_partition(
    spark, pmgr13
):
    mgr, root, init = pmgr13
    assert mgr.handle(
        "s1",
        "INSERT INTO pt13 SELECT 1 AS k, 'A' AS s, 1.0 AS pr, 'X' AS p "
        "UNION ALL SELECT 2, 'B', 2.0, 'Y'",
    ).startswith("DONE:")
    # static override: the DIRECTORY decides, not the data column
    assert mgr.handle(
        "s1",
        "INSERT INTO pt13 PARTITION (p='X') "
        "SELECT 3 AS k, 'C' AS s, 3.0 AS pr",
    ).startswith("DONE:")
    assert _pview(spark) == [
        (1, 1.0, "X"), (2, 2.0, "Y"), (3, 3.0, "X")
    ]
    # IOW of ONE partition: X replaced, Y untouched
    out = mgr.handle(
        "s1",
        "INSERT OVERWRITE pt13 PARTITION (p='X') "
        "SELECT 9 AS k, 'Z' AS s, 9.0 AS pr",
    )
    assert out.startswith("DONE:") and "p=X/base_" in out, out
    assert _pview(spark) == [(2, 2.0, "Y"), (9, 9.0, "X")]


def test_wire_partitioned_txn_one_writeid_across_partitions(
    spark, pmgr13
):
    mgr, root, init = pmgr13
    mgr.handle(
        "s1",
        "INSERT INTO pt13 SELECT 1 AS k, 'A' AS s, 1.0 AS pr, 'X' AS p "
        "UNION ALL SELECT 2, 'B', 2.0, 'Y'",
    )
    mgr.handle("t1", "BEGIN")
    mgr.handle("t1", "UPDATE pt13 SET price = price + 10.0")
    mgr.handle(
        "t1",
        "INSERT INTO pt13 PARTITION (p='Z') "
        "SELECT 5 AS k, 'E' AS s, 5.0 AS pr",
    )
    out = mgr.handle("t1", "COMMIT")
    assert out.startswith("DONE:Committed 2 statements"), out
    # one writeid (2), per-statement per-partition dirs
    for part, entries in (
        ("X", {"delete_delta_0000002_0000002_0000",
               "delta_0000002_0000002_0000"}),
        ("Y", {"delete_delta_0000002_0000002_0000",
               "delta_0000002_0000002_0000"}),
        ("Z", {"delta_0000002_0000002_0001"}),
    ):
        got = set(os.listdir(os.path.join(root, f"p={part}")))
        assert entries <= got, (part, got)
    assert _pview(spark) == [
        (1, 11.0, "X"), (2, 12.0, "Y"), (5, 5.0, "Z")
    ]


def test_wire_partitioned_compact_one_partition(spark, pmgr13):
    mgr, root, init = pmgr13
    for k, part in ((1, "X"), (2, "Y")):
        mgr.handle(
            "s1",
            f"INSERT INTO pt13 PARTITION (p='{part}') "
            f"SELECT {k} AS k, 'A' AS s, {k}.0 AS pr",
        )
    mgr.handle("s1", "UPDATE pt13 SET price = price + 1.0")
    # whole-table COMPACT refused on a partitioned enrollment
    out = mgr.handle("s1", "ALTER TABLE pt13 COMPACT 'major'")
    assert out.startswith("ERR_ENDED:") and "PARTITION" in out, out
    out = mgr.handle(
        "s1", "ALTER TABLE pt13 PARTITION (p='X') COMPACT 'major'"
    )
    assert out.startswith("DONE:") and "partition p=X" in out, out
    y_before = sorted(os.listdir(os.path.join(root, "p=Y")))
    init.run_once()
    x_after = os.listdir(os.path.join(root, "p=X"))
    assert any(e.startswith("base_") for e in x_after), x_after
    assert sorted(os.listdir(os.path.join(root, "p=Y"))) == y_before
    # the served view survived the fold+clean (republish_fn seam)
    assert _pview(spark) == [(1, 2.0, "X"), (2, 3.0, "Y")]


def test_wire_partitioned_merge(spark, pmgr13):
    """MERGE on a partitioned enrollment: matched rows delete/update
    in THEIR partitions (updates never move partitions), unmatched
    source rows insert into the partition their LAST insert
    expression names (the dynamic-partition column rule), all under
    one writeid."""
    mgr, root, init = pmgr13
    mgr.handle(
        "s1",
        "INSERT INTO pt13 SELECT 1 AS k, 'A' AS s, 1.0 AS pr, 'X' AS p "
        "UNION ALL SELECT 2, 'B', 2.0, 'Y' "
        "UNION ALL SELECT 3, 'C', 3.0, 'Y'",
    )
    spark.createDataFrame(
        [(1, "S", 10.0, "ignored"), (2, "S", 20.0, "ignored"),
         (9, "S", 90.0, "Z")],
        MM_DDL + ", src_p string",
    ).createOrReplaceTempView("r13_pmerge_src")
    out = mgr.handle(
        "s1",
        "MERGE INTO pt13 t USING r13_pmerge_src s ON t.k = s.k "
        "WHEN MATCHED AND t.k = 2 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET price = t.price + s.price "
        "WHEN NOT MATCHED THEN INSERT VALUES "
        "(s.k, s.status, s.price, s.src_p)",
    )
    assert out.startswith("DONE:Committed writeid 2"), out
    # X: k=1 updated in place; Y: k=2 deleted, k=3 untouched;
    # Z: k=9 inserted (partition from the LAST insert expression)
    assert _pview(spark) == [
        (1, 11.0, "X"), (3, 3.0, "Y"), (9, 90.0, "Z")
    ]
    entries = set(os.listdir(os.path.join(root, "p=X")))
    assert {"delete_delta_0000002_0000002",
            "delta_0000002_0000002"} <= entries, entries
    assert "delete_delta_0000002_0000002" in os.listdir(
        os.path.join(root, "p=Y")
    )
    assert os.listdir(os.path.join(root, "p=Z")) == [
        "delta_0000002_0000002"
    ]


def test_wire_partitioned_merge_refuses_partition_set_and_cardinality(
    spark, pmgr13
):
    mgr, root, init = pmgr13
    mgr.handle(
        "s1",
        "INSERT INTO pt13 PARTITION (p='X') "
        "SELECT 1 AS k, 'A' AS s, 1.0 AS pr",
    )
    spark.createDataFrame(
        [(1, "S", 1.0), (1, "S", 2.0)], MM_DDL
    ).createOrReplaceTempView("r13_pmerge_dup")
    out = mgr.handle(
        "s1",
        "MERGE INTO pt13 t USING r13_pmerge_dup s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET price = s.price",
    )
    assert out.startswith("ERR_ENDED:") and "cardinality" in out, out
    assert _scratch_entries(root) == []  # the aborted write's staging
    out = mgr.handle(
        "s1",
        "MERGE INTO pt13 t USING r13_pmerge_dup s ON t.k = s.k "
        "AND s.price = 1.0 WHEN MATCHED THEN UPDATE SET p = 'Z'",
    )
    assert out.startswith("ERR_ENDED:") and "partition column" in out, out
    assert _pview(spark) == [(1, 1.0, "X")]  # untouched throughout


def test_wire_unpartitioned_table_refuses_partition_clause(
    spark, mgr13
):
    mgr, root = mgr13
    out = mgr.handle(
        "s1",
        "INSERT INTO acid13 PARTITION (p='X') "
        "SELECT 7 AS k, 'C' AS s, 7.0 AS pr",
    )
    assert out.startswith("ERR_ENDED:") and "not partitioned" in out, out


#: the dirs the parity script leaves at a flat table's root: writeid 5
#: (the duplicate-match MERGE) aborts and renames nothing
_PARITY_FLAT_DIRS = [
    "delete_delta_0000002_0000002",
    "delete_delta_0000003_0000003",
    "delete_delta_0000004_0000004",
    "delete_delta_0000006_0000006_0000",
    "delta_0000001_0000001",
    "delta_0000002_0000002",
    "delta_0000004_0000004",
    "delta_0000006_0000006_0000",
    "delta_0000006_0000006_0001",
]


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
def test_wire_dml_layout_parity(spark, tmp_path, layout):
    """One wire script on a flat and a partitioned enrollment: an
    unpartitioned table is a table with one implicit partition, so
    every verb — INSERT, UPDATE, DELETE, a matched/not-matched MERGE,
    a duplicate-match MERGE (cardinality abort) and a 2-statement
    BEGIN…COMMIT — must leave the same rows either way. The flat
    table's root keeps exactly the pinned dir names."""
    from layer_apache_hive_spark.acid import TransactionCatalog
    from layer_apache_hive_spark.txn import TxnSessionManager

    part = layout == "partitioned"
    led = HiveWriteIdLedger(str(tmp_path / "ledger.jsonl"))
    mgr = TxnSessionManager(
        spark, TransactionCatalog(str(tmp_path / "cat")),
        publish=False, ledger=led,
    )
    root = str(tmp_path / "parity")
    os.makedirs(root)
    name = f"parity_{layout}"
    mgr.enroll_hive_acid(
        name, root, SCHEMA, _fields(), n_buckets=2,
        partition_col="p" if part else None,
    )
    # the partition value rides LAST (dynamic-partition column rule):
    # odd keys in 'X', even keys in 'Y'
    def pv(expr):
        return f", {expr}" if part else ""

    x, y = "'X'", "'Y'"

    spark.createDataFrame(
        [(1, "S", 100.0, "X"), (9, "S", 90.0, "Y")], MM_DDL + ", sp string"
    ).createOrReplaceTempView("parity_src")
    spark.createDataFrame(
        [(2, "S", 1.0, "Y"), (2, "S", 2.0, "Y")], MM_DDL + ", sp string"
    ).createOrReplaceTempView("parity_dup")
    script = [
        (f"INSERT INTO {name} SELECT 1 AS k, 'A' AS s, 1.0 AS pr"
         f"{pv(x)} UNION ALL "
         f"SELECT 2, 'B', 2.0{pv(y)} UNION ALL "
         f"SELECT 3, 'C', 3.0{pv(x)} UNION ALL "
         f"SELECT 4, 'D', 4.0{pv(y)}",
         "DONE:Committed writeid 1"),
        (f"UPDATE {name} SET price = price + 10.0 WHERE k <= 2",
         "DONE:Committed writeid 2"),
        (f"DELETE FROM {name} WHERE k = 3", "DONE:Committed writeid 3"),
        (f"MERGE INTO {name} t USING parity_src s ON t.k = s.k "
         "WHEN MATCHED THEN UPDATE SET price = s.price "
         "WHEN NOT MATCHED THEN INSERT VALUES "
         f"(s.k, s.status, s.price{pv('s.sp')})",
         "DONE:Committed writeid 4"),
    ]
    for sql, expect in script:
        out = mgr.handle("s1", sql)
        assert out.startswith(expect), (sql, out)
    # a bare statement is a one-statement transaction: each statement
    # run as BEGIN; <statement>; COMMIT on a twin table leaves the same
    # dirs, ledger records and rows
    twin_root = str(tmp_path / "twin")
    os.makedirs(twin_root)
    twin = f"twin_{layout}"
    mgr.enroll_hive_acid(
        twin, twin_root, SCHEMA, _fields(), n_buckets=2,
        partition_col="p" if part else None,
    )
    for sql, _ in script:
        assert mgr.handle("b1", "BEGIN").startswith("ACTIVE:")
        out = mgr.handle("b1", sql.replace(name, twin))
        assert out.startswith("ACTIVE:Buffered"), (sql, out)
        out = mgr.handle("b1", "COMMIT")
        assert out.startswith("DONE:Committed 1 statements"), (sql, out)

    def tree(r):
        return sorted(os.path.relpath(d, r) for d, _, _ in os.walk(r))

    def records(r):
        with open(tmp_path / "ledger.jsonl") as fh:
            lines = [ln.strip() for ln in fh]
        return [ln.replace(r, "R") for ln in lines if r in ln]

    def table_rows(r):
        return sorted(tuple(x) for x in read_hive_acid(
            spark, r, SCHEMA, valid_writeids=led.valid_writeids(r),
            partition_col="p" if part else None,
        ).collect())

    assert tree(twin_root) == tree(root)
    assert len(records(root)) == 8  # open + committed per writeid
    assert records(twin_root) == records(root)
    assert table_rows(twin_root) == table_rows(root)
    out = mgr.handle(
        "s1",
        f"MERGE INTO {name} t USING parity_dup s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET price = s.price",
    )
    assert out.startswith("ERR_ENDED:") and "cardinality" in out, out
    assert "writeid 5 aborted" in out, out
    assert led.aborted_ids(root) == frozenset({5})
    assert mgr.handle("t1", "BEGIN").startswith("ACTIVE:")
    for sql in (
        f"UPDATE {name} SET price = price + 1.0 WHERE k = 4",
        f"INSERT INTO {name} SELECT 7 AS k, 'G' AS s, 7.0 AS pr"
        f"{pv(x)}",
    ):
        assert not mgr.handle("t1", sql).startswith("ERR"), sql
    out = mgr.handle("t1", "COMMIT")
    assert out.startswith("DONE:Committed 2 statements"), out
    rows = read_hive_acid(
        spark, root, SCHEMA, valid_writeids=led.valid_writeids(root),
        partition_col="p" if part else None,
    ).collect()
    assert sorted((r.k, r.status, r.price) for r in rows) == [
        (1, "A", 100.0), (2, "B", 12.0), (4, "D", 5.0),
        (7, "G", 7.0), (9, "S", 90.0),
    ]
    if part:
        assert sorted((r.k, r.p) for r in rows) == [
            (1, "X"), (2, "Y"), (4, "Y"), (7, "X"), (9, "Y"),
        ]
    else:
        visible = sorted(e for e in os.listdir(root) if e[0] not in "._")
        assert visible == _PARITY_FLAT_DIRS


# --- part 3: write-set conflicts (HIVE-13395) + real locks (r13 tasks 2+6) ---


from layer_apache_hive_spark.sources.hive_acid import (  # noqa: E402
    HiveWriteConflictError,
)


def test_interleaved_conflicting_updates_second_commit_aborts(
    spark, mgr13
):
    """The verdict's acceptance test: two interleaved BEGIN blocks
    updating the SAME row — first committer wins, the second COMMIT
    aborts, its writeid reads ABORTED, and the winner's image is the
    only one served (the lost-update anomaly impossible)."""
    mgr, root = mgr13
    mgr.handle("T1", "BEGIN")
    mgr.handle("T2", "BEGIN")
    mgr.handle("T1", "UPDATE acid13 SET price = 100.0 WHERE k = 1")
    mgr.handle("T2", "UPDATE acid13 SET price = 200.0 WHERE k = 1")
    assert mgr.handle("T1", "COMMIT").startswith("DONE:")
    out = mgr.handle("T2", "COMMIT")
    assert out.startswith("ERR_ENDED:") and "conflict" in out, out
    # the loser's writeid is ABORTED (SHOW TRANSACTIONS material)
    assert mgr.ledger.entries(root)[3] == "aborted"
    assert _view13(spark) == {(1, 100.0), (2, 2.0), (3, 3.0)}
    # and SHOW TRANSACTIONS lists it as ABORTED
    out = mgr.handle("adm", "SHOW TRANSACTIONS")
    rows = {
        (r[0], r[1]) for r in spark.sql(out[4:]).collect()
    }
    assert ("acid13:writeid-3", "ABORTED") in rows, rows


def test_non_overlapping_pair_both_commit(spark, mgr13):
    """INSERT never conflicts with a concurrent UPDATE (no write set
    recorded for appends — Hive's rule), and two updates on DISTINCT
    tables both commit."""
    mgr, root = mgr13
    mgr.handle("T1", "BEGIN")
    mgr.handle("T2", "BEGIN")
    mgr.handle(
        "T1", "INSERT INTO acid13 SELECT 10 AS k, 'X' AS s, 10.0 AS p"
    )
    mgr.handle("T2", "UPDATE acid13 SET price = 5.0 WHERE k = 2")
    assert mgr.handle("T1", "COMMIT").startswith("DONE:")
    assert mgr.handle("T2", "COMMIT").startswith("DONE:")
    assert (10, 10.0) in _view13(spark) and (2, 5.0) in _view13(spark)


def test_partitioned_conflict_is_partition_granular(spark, pmgr13):
    """Write-set tokens are PARTITION-granular for partitioned
    tables (Hive's WRITE_SET carries the partition): concurrent
    updates to DIFFERENT partitions both commit; to the SAME
    partition, the second aborts."""
    mgr, root, init = pmgr13
    mgr.handle(
        "s0",
        "INSERT INTO pt13 SELECT 1 AS k, 'A' AS s, 1.0 AS pr, 'X' AS p "
        "UNION ALL SELECT 2, 'B', 2.0, 'Y'",
    )
    mgr.handle("T1", "BEGIN")
    mgr.handle("T2", "BEGIN")
    mgr.handle("T1", "UPDATE pt13 SET price = 11.0 WHERE p = 'X'")
    mgr.handle("T2", "UPDATE pt13 SET price = 22.0 WHERE p = 'Y'")
    assert mgr.handle("T1", "COMMIT").startswith("DONE:")
    assert mgr.handle("T2", "COMMIT").startswith("DONE:")
    assert _pview(spark) == [(1, 11.0, "X"), (2, 22.0, "Y")]
    mgr.handle("T3", "BEGIN")
    mgr.handle("T4", "BEGIN")
    mgr.handle("T3", "UPDATE pt13 SET price = 1.0 WHERE p = 'X'")
    mgr.handle("T4", "UPDATE pt13 SET price = 2.0 WHERE p = 'X'")
    assert mgr.handle("T3", "COMMIT").startswith("DONE:")
    out = mgr.handle("T4", "COMMIT")
    assert out.startswith("ERR_ENDED:") and "conflict" in out, out
    assert _pview(spark) == [(1, 1.0, "X"), (2, 22.0, "Y")]


def test_ledger_write_sets_survive_restart(tmp_path):
    """WRITE_SET rows ride the commit record: a successor ledger
    replays them, so validation works across manager restarts."""
    p = str(tmp_path / "l.jsonl")
    root = str(tmp_path / "t")
    os.makedirs(root)
    led = HiveWriteIdLedger(p)
    snap0 = led.committed_ids(root)
    w1 = led.allocate(root)
    led.commit(root, w1, write_set={"*"}, snapshot=snap0)
    succ = HiveWriteIdLedger(p)
    w2 = succ.allocate(root)
    with pytest.raises(HiveWriteConflictError):
        succ.commit(root, w2, write_set={"*"}, snapshot=snap0)
    # the failed commit left w2 OPEN (caller aborts it)
    assert succ.entries(root)[w2] == "open"


def test_exclusive_iow_lock_lifecycle(spark, mgr13):
    """An open BEGIN block's SHARED_WRITE blocks a concurrent IOW
    (EXCLUSIVE); released on ROLLBACK, the IOW proceeds; and while
    nothing is held, two sessions' row-level DML interleave."""
    mgr, root = mgr13
    mgr.handle("A", "BEGIN")
    mgr.handle("A", "UPDATE acid13 SET price = 0.0 WHERE k = 1")
    out = mgr.handle(
        "B", "INSERT OVERWRITE acid13 SELECT 9 AS k, 'Z' AS s, 9.0 AS p"
    )
    assert out.startswith("ERR_ENDED:") and "EXCLUSIVE" in out, out
    # SHOW LOCKS shows the real holder
    rows = spark.sql(mgr.handle("C", "SHOW LOCKS")[4:]).collect()
    assert [(r.lock_session, r.table_name, r.lock_type) for r in rows] == [
        ("A", "acid13", "SHARED_WRITE")
    ]
    mgr.handle("A", "ROLLBACK")
    assert spark.sql(mgr.handle("C", "SHOW LOCKS")[4:]).count() == 0
    out = mgr.handle(
        "B", "INSERT OVERWRITE acid13 SELECT 9 AS k, 'Z' AS s, 9.0 AS p"
    )
    assert out.startswith("DONE:"), out
    assert _view13(spark) == {(9, 9.0)}


#: (winner's statements, loser's statements) over keys 1 and 3 in
#: partition X, 2 and 4 in Y. Both blocks open before either commits
#: (the loser buffers first); the winner commits, then the loser.
_PROBE_SCENARIOS = {
    "update_same_rows": (
        ["UPDATE {t} SET price = 100.0 WHERE k = 1"],
        ["UPDATE {t} SET price = 200.0 WHERE k = 1"],
    ),
    "update_disjoint_partitions": (
        ["UPDATE {t} SET price = 100.0 WHERE k = 1"],
        ["UPDATE {t} SET price = 200.0 WHERE k = 2"],
    ),
    "update_vs_delete": (
        ["UPDATE {t} SET price = 0.0 WHERE k = 3"],
        ["DELETE FROM {t} WHERE k = 3"],
    ),
    # the loser's UPDATE reads the table as of its COMMIT, finds no
    # row and writes nothing, so nothing can conflict
    "delete_vs_update": (
        ["DELETE FROM {t} WHERE k = 3"],
        ["UPDATE {t} SET price = 0.0 WHERE k = 3"],
    ),
    "mixed_insert_update": (
        ["INSERT INTO {t} VALUES (10, 'n', 10.0{X})",
         "UPDATE {t} SET price = 100.0 WHERE k = 2"],
        ["INSERT INTO {t} VALUES (11, 'm', 11.0{Y})",
         "UPDATE {t} SET price = 200.0 WHERE k = 99",
         "UPDATE {t} SET price = 300.0 WHERE k = 4"],
    ),
    "key_moves_partition": (
        ["DELETE FROM {t} WHERE k = 1",
         "INSERT INTO {t} VALUES (1, 'moved', 1.0{Y})"],
        ["UPDATE {t} SET price = 200.0 WHERE k = 1"],
    ),
}


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
def test_abort_if_doomed_probe_matches_post_write_validation(
    spark, tmp_path, monkeypatch, layout
):
    """The first-committer-wins pre-check only fast-fails a COMMIT
    that the validation in ``commit_many`` would abort anyway. Each
    scenario runs as is and with the pre-check stubbed out: the
    loser's COMMIT outcome, the ledger entries and the rows must
    agree, and a conflict found by the pre-check writes no loser
    dirs."""
    from layer_apache_hive_spark.acid import TransactionCatalog
    from layer_apache_hive_spark.txn import TxnSessionManager

    part = layout == "partitioned"
    pcol = "p" if part else None
    values = {v: f", '{v}'" if part else "" for v in "XY"}
    seed = "INSERT INTO {t} VALUES " + ", ".join(
        f"({k}, 's', {k}.0{values[v]})"
        for k, v in [(1, "X"), (2, "Y"), (3, "X"), (4, "Y")]
    )

    def run(scenario, probe):
        d = tmp_path / f"{scenario}_{probe}"
        d.mkdir()
        led = HiveWriteIdLedger(str(d / "ledger.jsonl"))
        mgr = TxnSessionManager(
            spark, TransactionCatalog(str(d / "cat")),
            publish=False, ledger=led,
        )
        if not probe:
            monkeypatch.setattr(mgr, "_abort_if_doomed", lambda *a: None)
        root = str(d / "t")
        os.makedirs(root)
        mgr.enroll_hive_acid(
            "probe_t", root, SCHEMA, _fields(), n_buckets=1,
            partition_col=pcol,
        )

        def sql(text):
            return text.format(t="probe_t", **values)

        assert mgr.handle("s0", sql(seed)).startswith("DONE:")
        winner, loser = _PROBE_SCENARIOS[scenario]
        for sid, stmts in (("L", loser), ("W", winner)):
            assert mgr.handle(sid, "BEGIN").startswith("ACTIVE:")
            for text in stmts:
                out = mgr.handle(sid, sql(text))
                assert out.startswith("ACTIVE:Buffered"), (text, out)
        assert mgr.handle("W", "COMMIT").startswith("DONE:")
        out = mgr.handle("L", "COMMIT")
        if out.startswith("ERR_ENDED:") and "conflict" in out:
            outcome = "conflict"
        else:
            assert out.startswith("DONE:"), out
            outcome = "DONE"
        entries = led.entries(root)
        loser_dirs = [
            d for d, _, _ in os.walk(root)
            if f"_{max(entries):07d}_" in os.path.basename(d)
        ]
        rows = sorted(
            tuple(r) for r in read_hive_acid(
                spark, root, SCHEMA,
                valid_writeids=led.valid_writeids(root),
                partition_col=pcol,
            ).collect()
        )
        return outcome, entries, rows, loser_dirs

    outcomes = {}
    for scenario in _PROBE_SCENARIOS:
        outcome, entries, rows, dirs = run(scenario, probe=True)
        outcome2, entries2, rows2, dirs2 = run(scenario, probe=False)
        assert (outcome, entries, rows) == (outcome2, entries2, rows2), (
            scenario
        )
        if outcome == "conflict":
            assert dirs == [] and dirs2 != [], (scenario, dirs, dirs2)
        outcomes[scenario] = outcome
    # the scenarios reach both outcomes on each layout
    assert outcomes == {
        "update_same_rows": "conflict",
        "update_disjoint_partitions": "DONE" if part else "conflict",
        "update_vs_delete": "conflict",
        "delete_vs_update": "DONE",
        "mixed_insert_update": "conflict",
        "key_moves_partition": "DONE" if part else "conflict",
    }


# --- part 4: ledger-minted streaming ingest (r13 verdict task 3) -------------


from layer_apache_hive_spark.sources.hive_acid import (  # noqa: E402
    hive_stream_commit_batch,
)


def test_stream_batch_commit_replay_and_show_transactions_surface(
    spark, tmp_path
):
    led = HiveWriteIdLedger(str(tmp_path / "l.jsonl"))
    root = str(tmp_path / "s")
    os.makedirs(root)
    df = spark.createDataFrame([(1, "A", 1.0)], MM_DDL)
    w = hive_stream_commit_batch(
        spark, root, led, df, 0, payload_schema=SCHEMA,
        payload_fields=_fields(),
    )
    assert w == 1 and led.entries(root)[1] == "committed"
    # replayed batch 0 drops itself (the commit-record batch guard)
    assert hive_stream_commit_batch(
        spark, root, led, df, 0, payload_schema=SCHEMA,
        payload_fields=_fields(),
    ) is None
    assert [d for d in sorted(os.listdir(root))
            if d.startswith("delta_")] == ["delta_0000001_0000001"]


def test_stream_crash_mid_batch_reads_pre_batch_state(spark, tmp_path):
    """The verdict's acceptance: a batch that crashed between the
    delta rename and the ledger commit is OPEN — invisible to reads —
    and a successor's recover() aborts it; the table reads the
    PRE-batch state throughout, the Cleaner removes the debris, and
    the re-delivered batch ingests under a FRESH writeid."""
    path = str(tmp_path / "l.jsonl")
    led = HiveWriteIdLedger(path)
    root = str(tmp_path / "s")
    os.makedirs(root)
    df0 = spark.createDataFrame([(1, "A", 1.0)], MM_DDL)
    df1 = spark.createDataFrame([(2, "B", 2.0)], MM_DDL)
    assert hive_stream_commit_batch(
        spark, root, led, df0, 0, payload_schema=SCHEMA,
        payload_fields=_fields(),
    ) == 1
    # batch 1 crashes AFTER the rename, BEFORE the commit record:
    w = led.allocate(root)
    hive_acid_insert(spark, root, df1, SCHEMA, _fields(), w)
    del led  # the manager dies here; writeid w is OPEN on disk

    succ = HiveWriteIdLedger(path)
    # even BEFORE recover(), a ledger-aware read excludes the open id
    ks = {
        r.k
        for r in read_hive_acid(
            spark, root, SCHEMA,
            valid_writeids=succ.valid_writeids(root),
        ).collect()
    }
    assert ks == {1}  # pre-batch state
    assert succ.recover() == [(root, w)]
    removed = clean_hive_acid(root, aborted=succ.aborted_ids(root))
    assert f"delta_{w:07d}_{w:07d}" in removed, removed
    # the re-delivered batch lands under a FRESH writeid (never w)
    w2 = hive_stream_commit_batch(
        spark, root, succ, df1, 1, payload_schema=SCHEMA,
        payload_fields=_fields(),
    )
    assert w2 == w + 1
    ks = {
        r.k
        for r in read_hive_acid(
            spark, root, SCHEMA,
            valid_writeids=succ.valid_writeids(root),
        ).collect()
    }
    assert ks == {1, 2}


def test_stream_mm_batch_ledger_path(spark, tmp_path):
    led = HiveWriteIdLedger()
    root = str(tmp_path / "mm")
    df = spark.createDataFrame([(1, "A", 1.0)], MM_DDL)
    from layer_apache_hive_spark.sources.hive_acid import read_hive_mm

    assert hive_stream_commit_batch(
        spark, root, led, df, 7, insert_only=True,
    ) == 1
    assert hive_stream_commit_batch(
        spark, root, led, df, 7, insert_only=True,
    ) is None
    got = {
        r.k
        for r in read_hive_mm(
            spark, root, valid_writeids=led.valid_writeids(root),
            empty_schema=MM_DDL,
        ).collect()
    }
    assert got == {1}


# --- part 5: compactor visibility suffixes (r13 verdict task 5) --------------


from layer_apache_hive_spark.sources.hive_acid import (  # noqa: E402
    compact_hive_acid,
    minor_compact_hive_acid,
)


def test_major_recompaction_elects_later_visibility_suffix(
    spark, tmp_path
):
    """Two attempts of the SAME major fold (equal base_N) stamped
    with increasing visibility txns: readers elect the later suffix
    (HIVE-20823 ordering), never double-count, and the Cleaner
    removes the superseded same-N sibling."""
    led = HiveWriteIdLedger(str(tmp_path / "l.jsonl"))
    root = str(tmp_path / "t")
    os.makedirs(root)
    df = spark.createDataFrame([(1, "A", 1.0), (2, "B", 2.0)], MM_DDL)
    for i in range(2):
        w = led.allocate(root)
        hive_acid_insert(
            spark, root,
            df.withColumn("k", F.col("k") + 10 * i),
            SCHEMA, _fields(), w,
        )
        led.commit(root, w)
    v1 = led.next_visibility_txn()
    w = compact_hive_acid(
        spark, root, SCHEMA, _fields(), visibility_txn=v1
    )
    assert f"base_{w:07d}_v{v1:07d}" in os.listdir(root)
    v2 = led.next_visibility_txn()
    assert v2 > v1
    compact_hive_acid(spark, root, SCHEMA, _fields(), visibility_txn=v2)
    entries = sorted(os.listdir(root))
    assert f"base_{w:07d}_v{v1:07d}" in entries
    assert f"base_{w:07d}_v{v2:07d}" in entries
    got = sorted(
        r.k for r in read_hive_acid(spark, root, SCHEMA).collect()
    )
    assert got == [1, 2, 11, 12]  # no double count across attempts
    removed = clean_hive_acid(root)
    assert f"base_{w:07d}_v{v1:07d}" in removed, removed
    assert f"base_{w:07d}_v{v2:07d}" not in removed
    got = sorted(
        r.k for r in read_hive_acid(spark, root, SCHEMA).collect()
    )
    assert got == [1, 2, 11, 12]


def test_minor_recompaction_same_range_suffix_dedup(spark, tmp_path):
    led = HiveWriteIdLedger()
    root = str(tmp_path / "t")
    os.makedirs(root)
    df = spark.createDataFrame([(1, "A", 1.0)], MM_DDL)
    for i in range(2):
        w = led.allocate(root)
        hive_acid_insert(
            spark, root,
            df.withColumn("k", F.lit(i + 1).cast("long")),
            SCHEMA, _fields(), w,
        )
        led.commit(root, w)
    r1 = minor_compact_hive_acid(
        spark, root, SCHEMA, _fields(), visibility_txn=1
    )
    assert r1 == (1, 2)
    assert "delta_0000001_0000002_v0000001" in os.listdir(root)
    # a RE-ATTEMPTED merge leaves two dirs identical in range and
    # differing only in the visibility suffix (the first attempt's
    # worker died before its queue entry closed; the second re-ran):
    # simulate the second attempt's output directly
    import shutil as _sh

    _sh.copytree(
        os.path.join(root, "delta_0000001_0000002_v0000001"),
        os.path.join(root, "delta_0000001_0000002_v0000002"),
    )
    entries = sorted(os.listdir(root))
    assert "delta_0000001_0000002_v0000002" in entries, entries
    got = sorted(
        r.k for r in read_hive_acid(spark, root, SCHEMA).collect()
    )
    assert got == [1, 2]  # same-range attempts never double-count
    clean_hive_acid(root)
    entries = sorted(os.listdir(root))
    assert "delta_0000001_0000002_v0000001" not in entries, entries
    assert "delta_0000001_0000002_v0000002" in entries, entries


def test_visibility_counter_durable_and_separate_from_writeids(
    tmp_path,
):
    p = str(tmp_path / "l.jsonl")
    root = str(tmp_path / "t")
    os.makedirs(root)
    led = HiveWriteIdLedger(p)
    w1 = led.allocate(root)
    assert led.next_visibility_txn() == 1
    assert led.next_visibility_txn() == 2
    # visibility ids never consume writeids
    led.commit(root, w1)
    assert led.allocate(root) == w1 + 1
    succ = HiveWriteIdLedger(p)
    assert succ.next_visibility_txn() == 3  # durable counter


# --- part 6: a failed fold leaves the table as it was ------------------------


@pytest.mark.parametrize("kind", ["major", "minor"])
def test_failed_fold_leaves_table_unchanged(spark, tmp_path, kind):
    """A fold whose write job fails part-way (one bucket's task
    raises, the other's file lands) must not leave a partial dir under
    a live name: the election would pick it as the newest and read a
    fraction of the rows, and the Cleaner would drop the dirs it seems
    to cover. The table reads the same rows from the same dirs, no
    staging is left, and the explicit request shows 'failed'."""
    import pyarrow as pa

    from layer_apache_hive_spark.sources.hive_acid import (
        HiveAcidInitiator,
        _parse_acid_name,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    batches = [range(0, 6), range(6, 12), [1 << 40]]
    for w, keys in enumerate(batches, start=1):
        df = spark.createDataFrame(
            [(k, "A", float(w)) for k in keys], MM_DDL
        )
        hive_acid_insert(spark, root, df, SCHEMA, _fields(), w, n_buckets=2)

    def state():
        rows = sorted(
            tuple(r) for r in read_hive_acid(spark, root, SCHEMA).collect()
        )
        dirs = sorted(e for e in os.listdir(root) if _parse_acid_name(e))
        return rows, dirs

    before = state()
    assert len(before[0]) == 13
    # an int32 key field: the bucket holding 1 << 40 fails its write
    # task, the other bucket's task writes its file
    narrow = [("k", pa.int32())] + _fields()[1:]
    init = HiveAcidInitiator(
        spark,
        delta_num_threshold=100,
        delta_pct_threshold=100.0,
        serve_compactions_as="r13_failed_folds",
    )
    init.enroll(root, SCHEMA, narrow)
    row = init.request_compaction(root, kind)
    with pytest.raises(Exception):
        init.run_once()
    assert state() == before
    assert _scratch_entries(root) == []
    assert row["state"] == "failed" and row["detail"], row
    shown = spark.table("global_temp.r13_failed_folds").collect()
    assert [(r.kind, r.state) for r in shown] == [(kind, "failed")]


def test_failed_fold_does_not_stop_the_pass(spark, tmp_path):
    """Two enrolled tables, the first one's fold failing: the pass
    still folds the second, marks only the first request 'failed', and
    re-raises the first error afterwards with the pass's completed rows
    as ``e.done``."""
    import pyarrow as pa

    from layer_apache_hive_spark.sources.hive_acid import HiveAcidInitiator

    roots = [str(tmp_path / n) for n in ("bad", "good")]
    for root, big in zip(roots, (1 << 40, 7)):
        os.makedirs(root)
        for w, keys in enumerate([range(0, 6), [big]], start=1):
            df = spark.createDataFrame(
                [(k, "A", float(w)) for k in keys], MM_DDL
            )
            hive_acid_insert(spark, root, df, SCHEMA, _fields(), w)
    init = HiveAcidInitiator(
        spark,
        delta_num_threshold=100,
        delta_pct_threshold=100.0,
        serve_compactions_as="r13_failed_pass",
    )
    # the first table's int32 key field cannot hold 1 << 40
    init.enroll(roots[0], SCHEMA, [("k", pa.int32())] + _fields()[1:])
    init.enroll(roots[1], SCHEMA, _fields())
    rows = [init.request_compaction(r, "major") for r in roots]
    with pytest.raises(Exception) as exc:
        init.run_once()
    assert exc.value.done == [(roots[1], "major", 2)]
    assert [r["state"] for r in rows] == ["failed", "succeeded"]
    assert not any(e.startswith("base_") for e in os.listdir(roots[0]))
    assert "base_0000002" in os.listdir(roots[1])
    got = sorted(r.k for r in read_hive_acid(spark, roots[1], SCHEMA).collect())
    assert got == [0, 1, 2, 3, 4, 5, 7]
    shown = spark.table("global_temp.r13_failed_pass").collect()
    assert [r.state for r in shown] == ["failed", "succeeded"]
