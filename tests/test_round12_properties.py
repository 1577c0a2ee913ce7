"""Round-12 pins: the full wire DML verb set on ACID layouts plus the
manager's writeid ledger (the metastore TXNS analog).

1. HiveWriteIdLedger — serialized allocation under concurrency (the
   r11 advisor's rename-collision race), persistence + recover()
   (open → aborted), torn-trailing-line tolerance, commit_many
   atomicity (one record flips all tables of a transaction).
2. Wire UPDATE/DELETE (HIVE-14035 split-update) — bare auto-commit
   and inside BEGIN blocks; rollback leaves no dir; a failed
   statement aborts its writeid; MM tables refuse row-level verbs.
3. INSERT OVERWRITE → base_W on both table kinds (r11 verdict
   "what's missing" #2), including overwrite-to-empty.
4. In-flight invisibility: an allocated-but-uncommitted writeid is
   excluded from every ledger-aware election.
5. base_0000000 elects like any base and suppresses originals (r11
   advisor item 4).
6. A merged MM delta containing an aborted writeid is excluded
   wholesale from reads AND compactions; the initiator consults the
   enrolled valid-writeids closure before folding (advisor item 3).
7. enroll_hive_acid(serve=False) is honored on the write path
   (advisor item 5); MM wire INSERT casts to the declared schema
   (advisor item 1).
8. SHOW LOCKS over the wire surface: an open BEGIN block's tables
   appear, empty after COMMIT/ROLLBACK.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from layer_apache_hive_spark.session import TMP_ROOT
from layer_apache_hive_spark.sources.hive_acid import (
    HiveWriteIdLedger,
    ValidWriteIdList,
    append_mm_delta,
    clean_hive_acid,
    compact_hive_mm,
    hive_acid_insert,
    next_writeid,
    read_hive_acid,
    read_hive_mm,
    _elect_dirs,
)
from tests.test_round10_properties import SCHEMA, _fields

MM_DDL = "k long, status string, price double"


def _scratch_entries(root: str) -> list[str]:
    """Every ``.scratch_*`` entry anywhere under ``root``."""
    return [
        os.path.join(d, e)
        for d, dirs, files in os.walk(root)
        for e in dirs + files
        if e.startswith(".scratch_")
    ]


# --- 1. the writeid ledger ----------------------------------------------------


def test_ledger_allocation_serialized_under_concurrency(tmp_path):
    """16 threads allocating against one root must get 16 DISTINCT
    monotone writeids — the r11 advisor's race was two concurrent
    INSERTs deriving the same W from the directory listing."""
    led = HiveWriteIdLedger(str(tmp_path / "l.jsonl"))
    root = str(tmp_path / "t")
    os.makedirs(root)
    got: list[int] = []
    lock = threading.Lock()

    def worker():
        w = led.allocate(root)
        with lock:
            got.append(w)

    threads = [threading.Thread(target=worker) for _ in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(got) == list(range(1, 17))


def test_ledger_allocate_respects_disk_and_aborted_ids(tmp_path):
    led = HiveWriteIdLedger()
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "delta_0000007_0000007"))
    w = led.allocate(root)
    assert w == 8  # above any dir-consumed id
    led.abort(root, w)
    assert led.allocate(root) == 9  # aborted ids never reused


def test_ledger_recover_aborts_open_and_tolerates_torn_line(tmp_path):
    p = str(tmp_path / "l.jsonl")
    root = str(tmp_path / "t")
    os.makedirs(root)
    led = HiveWriteIdLedger(p)
    w1 = led.allocate(root)
    led.commit(root, w1)
    w2 = led.allocate(root)  # left open: the crash window
    with open(p, "a") as fh:
        fh.write('{"root": "x", "w": 9, "sta')  # torn mid-append
    succ = HiveWriteIdLedger(p)
    assert succ.recover() == [(root, w2)]
    assert succ.aborted_ids(root) == frozenset({w2})
    vw = succ.valid_writeids(root, table="t")
    assert vw.invalid_ids == frozenset({w2})
    # the minted list round-trips Hive's wire serialization
    assert ValidWriteIdList.from_string(str(vw)).invalid_ids == (
        frozenset({w2})
    )
    # a SECOND recover is a no-op (terminal states are terminal)
    assert succ.recover() == []


def test_ledger_commit_many_is_one_record(tmp_path):
    p = str(tmp_path / "l.jsonl")
    led = HiveWriteIdLedger(p)
    r1, r2 = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(r1)
    os.makedirs(r2)
    w1, w2 = led.allocate(r1), led.allocate(r2)
    led.commit_many([(r1, w1), (r2, w2)])
    lines = [json.loads(x) for x in open(p) if x.strip()]
    commits = [x for x in lines if x["state"] == "committed"]
    assert len(commits) == 1 and len(commits[0]["multi"]) == 2
    succ = HiveWriteIdLedger(p)
    assert succ.valid_writeids(r1).invalid_ids == frozenset()
    assert succ.valid_writeids(r2).invalid_ids == frozenset()
    with pytest.raises(ValueError):
        led.commit(r1, w1)  # not open anymore


def test_ledger_in_flight_writeid_invisible_to_election(spark, tmp_path):
    """The crash-window closure: a delta whose writeid is OPEN in the
    ledger is excluded from the election exactly like an aborted one,
    and becomes visible the instant the commit record lands."""
    led = HiveWriteIdLedger(str(tmp_path / "l.jsonl"))
    root = str(tmp_path / "t")
    os.makedirs(root)
    df = spark.createDataFrame(
        [(1, "A", 1.0), (2, "B", 2.0)], MM_DDL
    )
    w1 = led.allocate(root)
    hive_acid_insert(spark, root, df, SCHEMA, _fields(), w1)
    led.commit(root, w1)
    w2 = led.allocate(root)
    hive_acid_insert(spark, root, df.withColumn("k", F.col("k") + 10), SCHEMA, _fields(), w2)
    vw = led.valid_writeids(root)
    ks = {r.k for r in read_hive_acid(spark, root, SCHEMA, valid_writeids=vw).collect()}
    assert ks == {1, 2}  # w2 in flight: invisible
    led.commit(root, w2)
    vw2 = led.valid_writeids(root)
    ks2 = {r.k for r in read_hive_acid(spark, root, SCHEMA, valid_writeids=vw2).collect()}
    assert ks2 == {1, 2, 11, 12}


# --- 2. election edge: base_0000000 -------------------------------------------


def test_base_zero_elects_and_suppresses_originals(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "base_0000000"))
    open(os.path.join(root, "000000_0"), "w").write("")
    data, dels, originals, bounds = _elect_dirs(root)
    assert [os.path.basename(d) for d in data] == ["base_0000000"]
    assert originals == []  # previously BOTH were elected (double count)
    # and the Cleaner drops the superseded originals
    removed = clean_hive_acid(root)
    assert removed == ["000000_0"]


# --- 3. MM: merged dir containing an aborted writeid ---------------------------


def test_mm_merged_dir_with_aborted_writeid_dropped_wholesale(spark, tmp_path):
    root = str(tmp_path / "mm")
    df = spark.createDataFrame([(1, "A", 1.0)], MM_DDL)
    append_mm_delta(spark, root, df, 1)
    merged = append_mm_delta(
        spark, root, df.withColumn("k", F.lit(2).cast("long")), 2
    )
    os.rename(merged, os.path.join(root, "delta_0000002_0000003"))
    vw = ValidWriteIdList(aborted={3})
    ks = {
        r.k
        for r in read_hive_mm(
            spark, root, valid_writeids=vw, empty_schema=MM_DDL
        ).collect()
    }
    assert ks == {1}  # no per-event filter exists: whole dir excluded
    # the MAJOR compactor consults the same rule: the fold keeps only
    # writeid-1 rows and lands below the merged dir's range
    w = compact_hive_mm(spark, root, valid_writeids=vw, empty_schema=MM_DDL)
    assert w == 1
    base = spark.read.parquet(os.path.join(root, "base_0000001"))
    assert {r.k for r in base.collect()} == {1}


def test_initiator_fold_consults_valid_writeids_fn(spark, tmp_path):
    """An initiator-managed table with an aborted orphan delta: the
    explicit major compaction must exclude the orphan (r11 advisor —
    previously run_once folded without any valid_writeids and baked
    the orphan in permanently) and the Cleaner removes the debris."""
    from layer_apache_hive_spark.sources.hive_acid import (
        HiveAcidInitiator,
    )

    led = HiveWriteIdLedger()
    root = str(tmp_path / "mm")
    df = spark.createDataFrame([(1, "A", 1.0)], MM_DDL)
    w1 = led.allocate(root)
    append_mm_delta(spark, root, df, w1)
    led.commit(root, w1)
    w2 = led.allocate(root)
    append_mm_delta(
        spark, root, df.withColumn("k", F.lit(99).cast("long")), w2
    )
    led.abort(root, w2)  # the crashed writer's orphan
    init = HiveAcidInitiator(
        spark, delta_num_threshold=100, delta_pct_threshold=100.0
    )
    init.enroll(
        root,
        [("k", "long"), ("status", "string"), ("price", "double")],
        serve_as="r12_mm_orphan",
        insert_only=True,
        valid_writeids_fn=lambda: led.valid_writeids(root),
    )
    init.request_compaction(root, "major")
    done = init.run_once()
    assert done and done[0][1] == "major"
    served = {
        r.k for r in spark.table("global_temp.r12_mm_orphan").collect()
    }
    assert served == {1}
    entries = sorted(os.listdir(root))
    assert f"base_{w1:07d}" in entries
    # aborted debris removed by the clean pass (ledger-aware Cleaner)
    assert f"delta_{w2:07d}_{w2:07d}" not in entries, entries


# --- 4. the wire DML verbs ------------------------------------------------------


@pytest.fixture()
def mgr12(spark, tmp_path):
    from layer_apache_hive_spark.acid import TransactionCatalog
    from layer_apache_hive_spark.txn import TxnSessionManager

    cat = TransactionCatalog(str(tmp_path / "cat"))
    cat.commit(spark, {"vt_t": spark.createDataFrame([(1,)], "a long")})
    led = HiveWriteIdLedger(str(tmp_path / "ledger.jsonl"))
    mgr = TxnSessionManager(spark, cat, publish=False, ledger=led)
    root = str(tmp_path / "acid12")
    os.makedirs(root)
    seed = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", 2.0), (3, "B", 3.0)], MM_DDL
    )
    w = led.allocate(root)
    hive_acid_insert(spark, root, seed, SCHEMA, _fields(), w, n_buckets=2)
    led.commit(root, w)
    mgr.enroll_hive_acid("acid12", root, SCHEMA, _fields(), n_buckets=2)
    return mgr, root


def _view12(spark):
    return {
        (r.k, r.price)
        for r in spark.table("global_temp.acid12").collect()
    }


def test_wire_update_autocommit_split_update(spark, mgr12):
    mgr, root = mgr12
    out = mgr.handle(
        "u1", "UPDATE acid12 SET price = price + 10.0 WHERE k <= 2"
    )
    assert out.startswith("DONE:Committed writeid 2"), out
    entries = sorted(os.listdir(root))
    assert "delete_delta_0000002_0000002" in entries, entries
    assert "delta_0000002_0000002" in entries, entries
    assert _view12(spark) == {(1, 11.0), (2, 12.0), (3, 3.0)}


def test_wire_delete_autocommit(spark, mgr12):
    mgr, root = mgr12
    out = mgr.handle("d1", "DELETE FROM acid12 WHERE k = 2")
    assert out.startswith("DONE:Committed writeid 2"), out
    entries = sorted(os.listdir(root))
    assert "delete_delta_0000002_0000002" in entries, entries
    assert "delta_0000002_0000002" not in entries  # delete-only txn
    assert _view12(spark) == {(1, 1.0), (3, 3.0)}
    # DELETE with no WHERE empties the table
    out = mgr.handle("d1", "DELETE FROM acid12")
    assert out.startswith("DONE:Committed writeid 3"), out
    assert _view12(spark) == set()


def test_wire_txn_update_delete_one_writeid(spark, mgr12):
    """BEGIN; UPDATE; DELETE; COMMIT — one writeid, per-statement
    dirs, both statements reading the PRE-transaction snapshot (the
    surface's documented posture): the row both updated and deleted
    survives as its updated image, because the DELETE's events name
    its OLD identity which the UPDATE already retired."""
    mgr, root = mgr12
    assert mgr.handle("t1", "BEGIN").startswith("ACTIVE:")
    assert mgr.handle(
        "t1", "UPDATE acid12 SET price = price + 10.0 WHERE k = 2"
    ).startswith("ACTIVE:Buffered")
    assert mgr.handle(
        "t1", "DELETE FROM acid12 WHERE k >= 2"
    ).startswith("ACTIVE:Buffered")
    assert next_writeid(root) == 2  # nothing on disk until COMMIT
    out = mgr.handle("t1", "COMMIT")
    assert out.startswith("DONE:Committed 2 statements"), out
    entries = sorted(os.listdir(root))
    assert "delete_delta_0000002_0000002_0000" in entries, entries
    assert "delta_0000002_0000002_0000" in entries, entries
    assert "delete_delta_0000002_0000002_0001" in entries, entries
    assert _view12(spark) == {(1, 1.0), (2, 12.0)}


def test_wire_iow_writes_base_and_empty_overwrite_hides_rows(spark, mgr12):
    mgr, root = mgr12
    out = mgr.handle(
        "i1", "INSERT OVERWRITE acid12 SELECT 9 AS k, 'Z' AS s, 9.0 AS p"
    )
    assert out.startswith("DONE:Committed writeid 2 (base_0000002"), out
    assert _view12(spark) == {(9, 9.0)}
    # overwrite-to-empty: the base must still land and hide old rows
    out = mgr.handle(
        "i1",
        "INSERT OVERWRITE acid12 "
        "SELECT 0 AS k, 'Z' AS s, 0.0 AS p WHERE 1 = 0",
    )
    assert out.startswith("DONE:Committed writeid 3 (base_0000003"), out
    assert _view12(spark) == set()


def test_wire_failed_statement_aborts_writeid(spark, mgr12):
    mgr, root = mgr12
    out = mgr.handle("f1", "INSERT INTO acid12 SELECT 1 AS only_one_col")
    assert out.startswith("ERR_ENDED:statement failed (writeid 2"), out
    assert mgr.ledger.aborted_ids(root) == frozenset({2})
    # the aborted id is never reused; the next statement gets 3
    out = mgr.handle(
        "f1", "INSERT INTO acid12 SELECT 4 AS k, 'C' AS s, 4.0 AS p"
    )
    assert out.startswith("DONE:Committed writeid 3"), out
    assert (4, 4.0) in _view12(spark)


def test_wire_concurrent_inserts_get_distinct_writeids(spark, mgr12):
    mgr, root = mgr12
    outs: list[str] = []
    lock = threading.Lock()

    def worker(i: int):
        out = mgr.handle(
            f"c{i}",
            f"INSERT INTO acid12 SELECT {100 + i} AS k, 'C' AS s, 1.0 AS p",
        )
        with lock:
            outs.append(out)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(o.startswith("DONE:Committed writeid") for o in outs), outs
    ws = sorted(int(o.split("writeid ")[1].split(" ")[0]) for o in outs)
    assert ws == [2, 3, 4, 5]  # serialized allocation: no collisions
    ks = {r.k for r in spark.table("global_temp.acid12").collect()}
    assert {100, 101, 102, 103} <= ks


def test_serve_false_enrollment_never_publishes(spark, tmp_path):
    from layer_apache_hive_spark.acid import TransactionCatalog
    from layer_apache_hive_spark.txn import TxnSessionManager

    mgr = TxnSessionManager(
        spark, TransactionCatalog(str(tmp_path / "cat")), publish=False
    )
    root = str(tmp_path / "quiet")
    os.makedirs(root)
    mgr.enroll_hive_acid(
        "quiet_t", root, SCHEMA, _fields(), serve=False
    )
    out = mgr.handle(
        "q1", "INSERT INTO quiet_t SELECT 1 AS k, 'A' AS s, 1.0 AS p"
    )
    assert out.startswith("DONE:Committed writeid 1"), out
    # the write landed but NO view was created/refreshed (r11 advisor)
    assert "delta_0000001_0000001" in os.listdir(root)
    assert (
        spark.sql(
            "SHOW VIEWS IN global_temp LIKE 'quiet_t'"
        ).count()
        == 0
    )


# --- 5. MM wire semantics --------------------------------------------------------


@pytest.fixture()
def mm_mgr12(spark, tmp_path):
    from layer_apache_hive_spark.acid import TransactionCatalog
    from layer_apache_hive_spark.txn import TxnSessionManager

    cat = TransactionCatalog(str(tmp_path / "cat"))
    led = HiveWriteIdLedger(str(tmp_path / "ledger.jsonl"))
    mgr = TxnSessionManager(spark, cat, publish=False, ledger=led)
    root = str(tmp_path / "mm12")
    seed = spark.createDataFrame([(1, "A", 1.0)], MM_DDL)
    w = led.allocate(root)
    append_mm_delta(spark, root, seed, w)
    led.commit(root, w)
    mgr.enroll_hive_acid(
        "mm12",
        root,
        [("k", "long"), ("status", "string"), ("price", "double")],
        insert_only=True,
    )
    return mgr, root


def test_mm_wire_insert_casts_to_declared_schema(spark, mm_mgr12):
    """r11 advisor item 1: `INSERT ... VALUES (2, 'B', 2)` analyzes as
    int/int — written raw it lands incompatible parquet next to
    long/double files; the insert path must cast to the declared
    schema for MM tables exactly as hive_acid_insert does for full ACID."""
    mgr, root = mm_mgr12
    out = mgr.handle(
        "m1", "INSERT INTO mm12 SELECT 2 AS k, 'B' AS s, 2 AS p"
    )
    assert out.startswith("DONE:Committed writeid 2"), out
    got = read_hive_mm(spark, root, empty_schema=MM_DDL)
    assert dict(got.dtypes) == {
        "k": "bigint", "status": "string", "price": "double"
    }
    assert {(r.k, r.price) for r in got.collect()} == {(1, 1.0), (2, 2.0)}


def test_mm_wire_update_delete_refused_iow_served(spark, mm_mgr12):
    mgr, root = mm_mgr12
    out = mgr.handle("m1", "DELETE FROM mm12 WHERE k = 1")
    assert out.startswith("ERR_ENDED:") and "insert-only" in out, out
    out = mgr.handle("m1", "UPDATE mm12 SET price = 0.0")
    assert out.startswith("ERR_ENDED:") and "insert-only" in out, out
    mgr.handle("m1", "BEGIN")
    out = mgr.handle("m1", "DELETE FROM mm12 WHERE k = 1")
    assert out.startswith("ERR_ACTIVE:") and "insert-only" in out, out
    mgr.handle("m1", "ROLLBACK")
    # IOW is served: a base_W of plain files
    out = mgr.handle(
        "m1", "INSERT OVERWRITE mm12 SELECT 7 AS k, 'Z' AS s, 7.0 AS p"
    )
    assert out.startswith("DONE:Committed writeid 2 (base_0000002"), out
    served = {
        (r.k, r.price)
        for r in spark.table("global_temp.mm12").collect()
    }
    assert served == {(7, 7.0)}


# --- 5b. MERGE (the third HIVE-14035 verb) ----------------------------------------


def test_wire_merge_clause_order_and_split_update(spark, mgr12):
    """MERGE with DELETE-before-UPDATE clause order: matched rows take
    the FIRST matching clause (k=2 deletes; k=1,3 are unmatched /
    updated per their conds); unmatched source rows insert. One
    writeid, one delete_delta + one insert delta."""
    mgr, root = mgr12
    spark.createDataFrame(
        [(1, "S", 10.0), (2, "S", 20.0), (9, "S", 90.0)], MM_DDL
    ).createOrReplaceTempView("r12_merge_src")
    out = mgr.handle(
        "m1",
        "MERGE INTO acid12 t USING r12_merge_src s ON t.k = s.k "
        "WHEN MATCHED AND t.k = 2 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET price = t.price + s.price "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.status, s.price)",
    )
    assert out.startswith("DONE:Committed writeid 2"), out
    entries = sorted(os.listdir(root))
    assert "delete_delta_0000002_0000002" in entries, entries
    assert "delta_0000002_0000002" in entries, entries
    # target was {1: 1.0, 2: 2.0, 3: 3.0}; source {1: 10, 2: 20, 9: 90}
    # k=2 deleted (first clause), k=1 updated 1+10, k=3 untouched,
    # k=9 inserted
    assert _view12(spark) == {(1, 11.0), (3, 3.0), (9, 90.0)}


def test_wire_merge_cardinality_violation_aborts(spark, mgr12):
    mgr, root = mgr12
    spark.createDataFrame(
        [(1, "S", 10.0), (1, "S", 11.0)], MM_DDL
    ).createOrReplaceTempView("r12_merge_dup")
    out = mgr.handle(
        "m1",
        "MERGE INTO acid12 t USING r12_merge_dup s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET price = s.price",
    )
    assert out.startswith("ERR_ENDED:") and "cardinality" in out, out
    assert mgr.ledger.aborted_ids(root) == frozenset({2})
    assert _view12(spark) == {(1, 1.0), (2, 2.0), (3, 3.0)}  # untouched
    assert _scratch_entries(root) == []  # the aborted write's staging


def test_wire_merge_in_txn_and_refusals(spark, mgr12, mm_mgr12):
    mgr, root = mgr12
    spark.createDataFrame([(3, "S", 30.0)], MM_DDL).createOrReplaceTempView(
        "r12_merge_one"
    )
    mgr.handle("m1", "BEGIN")
    out = mgr.handle(
        "m1",
        "MERGE INTO acid12 t USING r12_merge_one s ON t.k = s.k "
        "WHEN MATCHED THEN DELETE",
    )
    assert out.startswith("ACTIVE:Buffered"), out
    assert mgr.handle("m1", "COMMIT").startswith("DONE:Committed 1")
    assert _view12(spark) == {(1, 1.0), (2, 2.0)}
    # MM tables refuse MERGE (no row identities)
    mm, _mm_root = mm_mgr12
    out = mm.handle(
        "m2",
        "MERGE INTO mm12 t USING r12_merge_one s ON t.k = s.k "
        "WHEN MATCHED THEN DELETE",
    )
    assert out.startswith("ERR_ENDED:") and "insert-only" in out, out
    # catalog (VersionedTable) targets refuse MERGE inside a txn
    mgr.handle("m3", "BEGIN")
    out = mgr.handle(
        "m3",
        "MERGE INTO vt_t t USING r12_merge_one s ON t.a = s.k "
        "WHEN MATCHED THEN DELETE",
    )
    assert out.startswith("ERR_ACTIVE:") and "hive-acid" in out, out
    mgr.handle("m3", "ROLLBACK")


def test_wire_merge_conditional_not_matched(spark, mgr12):
    """WHEN NOT MATCHED AND c THEN INSERT: unmatched source rows
    failing the guard are simply not inserted (Hive's semantics)."""
    mgr, root = mgr12
    spark.createDataFrame(
        [(8, "S", 8.0), (9, "S", 9.0)], MM_DDL
    ).createOrReplaceTempView("r12_merge_cond_src")
    out = mgr.handle(
        "mc1",
        "MERGE INTO acid12 t USING r12_merge_cond_src s ON t.k = s.k "
        "WHEN NOT MATCHED AND s.k % 2 = 0 THEN INSERT VALUES"
        " (s.k, s.status, s.price)",
    )
    assert out.startswith("DONE:Committed writeid 2"), out
    assert _view12(spark) == {(1, 1.0), (2, 2.0), (3, 3.0), (8, 8.0)}


def test_wire_merge_empty_source_writes_nothing(spark, mgr12):
    """MERGE whose source relation is EMPTY: the statement still
    commits (Hive runs the rewrite and writes no events), no
    delete_delta/delta dir lands, and the table is untouched — the
    degenerate case a scheduled nightly MERGE hits whenever the
    staging feed is empty."""
    mgr, root = mgr12
    before = sorted(os.listdir(root))
    spark.createDataFrame([], MM_DDL).createOrReplaceTempView(
        "r12_merge_empty_src"
    )
    out = mgr.handle(
        "me1",
        "MERGE INTO acid12 t USING r12_merge_empty_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET price = s.price "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.status, s.price)",
    )
    assert out.startswith("DONE:Committed writeid 2"), out
    assert "no rows matched" in out, out
    assert sorted(os.listdir(root)) == before  # not one new dir
    assert _view12(spark) == {(1, 1.0), (2, 2.0), (3, 3.0)}


def test_show_transactions_includes_ledger_state(spark, mgr12):
    """SHOW TRANSACTIONS surfaces the writeid ledger's OPEN/ABORTED
    entries alongside live wire buffers — the metastore TXNS view
    (committed writeids never show, Hive's rule)."""
    mgr, root = mgr12
    out = mgr.handle(
        "t9", "INSERT INTO acid12 SELECT 1 AS k, 'Z'"  # arity error
    )
    assert out.startswith("ERR_ENDED:statement failed"), out
    w_open = mgr.ledger.allocate(root)  # an in-flight transaction
    out = mgr.handle("t9", "SHOW TRANSACTIONS")
    rows = {
        (r.txn_session, r.state)
        for r in spark.table(
            "global_temp.sparkgraft_transactions"
        ).collect()
    }
    assert ("acid12:writeid-2", "ABORTED") in rows, rows
    assert (f"acid12:writeid-{w_open}", "OPEN") in rows, rows
    # the seed commit (writeid 1) is committed -> never listed
    assert not any("writeid-1" in s for s, _ in rows), rows


# --- 6. SHOW LOCKS ---------------------------------------------------------------


def test_show_locks_lifecycle(spark, mgr12):
    mgr, root = mgr12
    out = mgr.handle("l1", "SHOW LOCKS")
    assert out.startswith("SQL:"), out
    assert spark.sql(out[4:]).count() == 0  # nothing open
    mgr.handle("l1", "BEGIN")
    mgr.handle(
        "l1", "INSERT INTO acid12 SELECT 5 AS k, 'C' AS s, 5.0 AS p"
    )
    out = mgr.handle("l2", "SHOW LOCKS")  # visible from ANY session
    rows = spark.sql(out[4:]).collect()
    assert [(r.table_name, r.lock_type, r.state) for r in rows] == [
        ("acid12", "SHARED_WRITE", "ACQUIRED")
    ]
    # filtered form: SHOW LOCKS <table>
    out = mgr.handle("l2", "SHOW LOCKS nothing_here")
    assert spark.sql(out[4:]).count() == 0
    mgr.handle("l1", "COMMIT")
    out = mgr.handle("l2", "SHOW LOCKS")
    assert spark.sql(out[4:]).count() == 0  # empties after COMMIT


def test_abort_transactions_statement(spark, mgr12):
    """ABORT TRANSACTIONS (HIVE-12634): kills an open wire BEGIN
    block from another session AND flips a hung OPEN writeid to
    ABORTED (the ledger kill switch); the killed session's next
    COMMIT gets an honest error; committed writeids refuse."""
    mgr, root = mgr12
    mgr.handle("victim", "BEGIN")
    mgr.handle(
        "victim", "INSERT INTO acid12 SELECT 7 AS k, 'V' AS s, 7.0 AS p"
    )
    w_hung = mgr.ledger.allocate(root)  # a crashed commit's writeid
    out = mgr.handle(
        "admin", f"ABORT TRANSACTIONS victim, acid12:writeid-{w_hung}"
    )
    assert out.startswith("DONE:Aborted 2"), out
    assert "victim" not in mgr._open
    assert w_hung in mgr.ledger.aborted_ids(root)
    # the killed session's dangling COMMIT answers honestly
    out = mgr.handle("victim", "COMMIT")
    assert out.startswith("ERR_ENDED:no transaction is open"), out
    # terminal writeids refuse re-abort; unknown tokens refuse
    out = mgr.handle("admin", f"ABORT TRANSACTIONS acid12:writeid-{w_hung}")
    assert out.startswith("ERR_ENDED:") and "not open" in out, out
    out = mgr.handle("admin", "ABORT TRANSACTIONS nothing:writeid-9")
    assert out.startswith("ERR_ENDED:unknown transaction id"), out
    # not transactional: refused inside an open BEGIN
    mgr.handle("a2", "BEGIN")
    out = mgr.handle("a2", "ABORT TRANSACTIONS whatever")
    assert out.startswith("ERR_ACTIVE:"), out
    mgr.handle("a2", "ROLLBACK")


# --- 7. the direct writer APIs ----------------------------------------------------


def test_hive_acid_overwrite_elects_over_prior_dirs(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    df = spark.createDataFrame([(1, "A", 1.0), (2, "B", 2.0)], MM_DDL)
    hive_acid_insert(spark, root, df, SCHEMA, _fields(), 1)
    hive_acid_insert(
        spark,
        root,
        df.withColumn("k", F.col("k") + 5),
        SCHEMA,
        _fields(),
        2,
        overwrite=True,
    )
    ks = {r.k for r in read_hive_acid(spark, root, SCHEMA).collect()}
    assert ks == {6, 7}
    removed = clean_hive_acid(root)
    assert removed == ["delta_0000001_0000001"]


@pytest.mark.parametrize("shape", ["acid", "acid_static", "mm"])
def test_empty_overwrite_hides_rows(spark, tmp_path, shape):
    """INSERT OVERWRITE with no rows still writes an empty base_W, so
    the old rows hide: on a full-ACID table, on one static partition
    of a full-ACID table (the other partitions keep their rows) and
    on an MM table."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "A", 1.0)], MM_DDL)
    if shape == "mm":
        append_mm_delta(spark, root, df, 1)
        append_mm_delta(spark, root, df.limit(0), 2, overwrite=True)
        got = read_hive_mm(spark, root, empty_schema=MM_DDL)
        assert got.count() == 0
        return
    pc = "p" if shape == "acid_static" else None
    seed = df
    if pc:
        parts = spark.createDataFrame([("X",), ("Y",)], "p string")
        seed = df.crossJoin(parts)
    hive_acid_insert(
        spark, root, seed, SCHEMA, _fields(), 1, partition_col=pc
    )
    [base] = hive_acid_insert(
        spark,
        root,
        df.limit(0),
        SCHEMA,
        _fields(),
        2,
        overwrite=True,
        partition_col=pc,
        static_value="X" if pc else None,
    )
    assert os.path.basename(base) == "base_0000002"
    assert os.listdir(base) == []
    got = read_hive_acid(spark, root, SCHEMA, partition_col=pc).collect()
    assert {(r.k, r.p if pc else None) for r in got} == (
        {(1, "Y")} if pc else set()
    )


# --- 8. IVF × PQ residual (r11 verdict next-round task 8) ----------------------


def test_ivfpq_residual_recall_and_cell_bound(spark):
    """What residual coding BUYS, measured: on the clustered fixture
    (cells = real geometry) IVFADC must recover at least as much of
    the exact integer-L2 top-10 as plain trained PQ over raw vectors
    (ext_sim_ivfpq_trained's tier) — residuals concentrate the
    codebook's 16 codes per subspace on within-cell structure. And
    the IVF economics hold STRUCTURALLY: every returned neighbor
    lies in one of its query's nprobe probed cells (per-query work
    is bounded by cell sizes, never the corpus)."""
    import numpy as np

    from layer_apache_hive_spark.catalog import read_table
    from layer_apache_hive_spark.extensions.fixtures import (
        build_clustered_embeddings,
    )
    from layer_apache_hive_spark.extensions.similarity import (
        _IVFR_ITERS,
        _IVFR_NPROBE,
        _PQT_ITERS,
        _PQT_SCALE,
        _ivfpq_residual_frame,
        _pq_trained_frame,
    )

    clustered = build_clustered_embeddings(
        "/root/testdata/sf0.001", f"{TMP_ROOT}/r12_ivfr_clustered"
    )
    emb = (
        read_table(spark, clustered, "embeddings")
        .select("vec_id", "label", "embedding")
        .toPandas()
    )
    vid = emb["vec_id"].to_numpy()
    lab = emb["label"].to_numpy()
    S = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        * _PQT_SCALE
    ).astype(np.int64)
    exact10 = set()
    for q in range(5):
        qw = np.where(vid == q)[0]
        if not len(qw):
            continue
        d2 = ((S - S[qw[0]]) ** 2).sum(1)
        order = sorted(range(len(vid)), key=lambda i: (d2[i], vid[i]))
        exact10 |= {
            (q, int(vid[i]))
            for i in [i for i in order if vid[i] != q][:10]
        }

    got_residual = {
        (r.query_id, r.neighbor_id)
        for r in _ivfpq_residual_frame(
            spark, clustered, _IVFR_ITERS
        ).collect()
    }
    got_trained = {
        (r.query_id, r.neighbor_id)
        for r in _pq_trained_frame(
            spark, clustered, _PQT_ITERS
        ).collect()
    }
    r_residual = len(got_residual & exact10) / len(exact10)
    r_trained = len(got_trained & exact10) / len(exact10)
    assert r_residual >= r_trained, (r_residual, r_trained)
    assert r_residual >= 0.9, r_residual

    # structural cell bound: every neighbor lies in a probed cell
    cells = {int(v): int(c) for v, c in zip(vid, lab)}
    qcents = {}
    for c in set(lab):
        members = S[lab == c]
        qcents[int(c)] = np.floor(
            members.sum(0).astype(np.float64) / len(members)
        ).astype(np.int64)
    for q, n in got_residual:
        qrow = S[np.where(vid == q)[0][0]]
        probe_order = sorted(
            qcents, key=lambda c: (((qrow - qcents[c]) ** 2).sum(), c)
        )
        assert cells[n] in probe_order[:_IVFR_NPROBE], (q, n)
