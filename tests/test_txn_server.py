"""Multi-statement transactions over the wire (round-7 verdict task
1): BEGIN/DML/COMMIT|ROLLBACK spoken by a real beeline JDBC client,
bound to acid.TransactionCatalog through the compiled parser
interceptor (txn.py). Fresh-JVM subprocesses like the other server
tests: the interceptor is frozen into spark.sql.extensions at session
build."""

from __future__ import annotations

import subprocess
import sys
import tempfile

from layer_apache_hive_spark.session import PACKAGE_ROOT


def _run(script: str, timeout: int = 600) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=timeout,
        cwd=PACKAGE_ROOT,
    )
    assert proc.returncode == 0, (
        f"subprocess failed rc={proc.returncode}\n"
        f"stdout:\n{proc.stdout[-4000:]}\nstderr:\n{proc.stderr[-3000:]}"
    )
    return proc.stdout


_TXN_SERVER = """
import sys
from layer_apache_hive_spark.metastore import hive_session
from layer_apache_hive_spark.server import (
    start_thrift_server, wait_for_port, beeline_query, beeline_script)
from layer_apache_hive_spark.txn import (
    TxnSessionManager, install_txn_handler, txn_session_conf)
from layer_apache_hive_spark.acid import TransactionCatalog

port = {port}
conf = txn_session_conf()
conf["spark.hadoop.hive.server2.thrift.port"] = str(port)
spark = hive_session(
    app_name="thrift-txn", master="local[4]",
    metastore_dir={ms!r}, warehouse_dir={wh!r}, extra_conf=conf)

cat = TransactionCatalog({wh!r} + "/txn_cat")
cat.commit(spark, {{
    "inventory": spark.createDataFrame(
        [("widget", 10), ("gadget", 5)], "item string, qty int"),
    "orders": spark.createDataFrame([], "order_id int, item string"),
}})
mgr = install_txn_handler(
    spark, TxnSessionManager(spark, cat, publish_db="txn"))
mgr.publish_all()
server = start_thrift_server(spark, port)
wait_for_port(port)

def served(sql):
    _, rows = beeline_query(sql, port)
    return rows

# pre-state over the wire
assert served("SELECT qty FROM txn.inventory WHERE item = 'widget'") == [["10"]]
assert served("SELECT COUNT(*) AS n FROM txn.orders") == [["0"]]

# --- one wire transaction touching BOTH tables, with a mid-txn wire
# read proving the writes are INVISIBLE until COMMIT returns
out = beeline_script(
    "BEGIN; "
    "UPDATE inventory SET qty = qty - 3 WHERE item = 'widget'; "
    "INSERT INTO orders VALUES (1, 'widget'); "
    "SELECT (SELECT SUM(qty) FROM txn.inventory) AS q, "
    "       (SELECT COUNT(*) FROM txn.orders) AS n; "
    "COMMIT", port)
assert "Transaction started" in out, out[-1500:]
assert "Buffered statement 2" in out, out[-1500:]
assert "15,0" in out, ("mid-txn read must see pre-state", out[-1500:])
assert "Committed catalog v2" in out, out[-1500:]

# after COMMIT: BOTH tables visible over the wire, atomically pinned
assert served("SELECT qty FROM txn.inventory WHERE item = 'widget'") == [["7"]]
assert served("SELECT COUNT(*) AS n FROM txn.orders") == [["1"]]
# catalog-API readers resolve the same snapshot
assert cat.read(spark, "inventory", 2).filter(
    "item = 'widget'").collect()[0].qty == 7
assert cat.read(spark, "orders", 2).count() == 1
# and the PREVIOUS catalog snapshot still shows the pre-state of both
assert cat.read(spark, "inventory", 1).filter(
    "item = 'widget'").collect()[0].qty == 10
assert cat.read(spark, "orders", 1).count() == 0

# --- hash match vs a TransactionCatalog REPLAY of the same txn
from pyspark.sql import functions as F
replay = TransactionCatalog({wh!r} + "/txn_replay")
replay.commit(spark, {{
    "inventory": spark.createDataFrame(
        [("widget", 10), ("gadget", 5)], "item string, qty int"),
    "orders": spark.createDataFrame([], "order_id int, item string"),
}})
replay.commit(spark, {{
    "inventory": lambda df: df.withColumn(
        "qty", F.when(df.item == "widget", df.qty - 3).otherwise(df.qty)),
    "orders": lambda df: df.unionByName(spark.createDataFrame(
        [(1, "widget")], "order_id int, item string")),
}})
for t in ("inventory", "orders"):
    wire_rows = sorted(map(tuple, cat.read(spark, t).collect()))
    replay_rows = sorted(map(tuple, replay.read(spark, t).collect()))
    assert wire_rows == replay_rows, (t, wire_rows, replay_rows)
print("TXN_COMMIT_OK")

# --- ROLLBACK discards everything
out = beeline_script(
    "BEGIN; DELETE FROM orders; "
    "UPDATE inventory SET qty = 0; ROLLBACK", port)
assert "rolled back (2 buffered statements discarded)" in out, out[-1000:]
assert served("SELECT COUNT(*) AS n FROM txn.orders") == [["1"]]
assert served("SELECT qty FROM txn.inventory WHERE item = 'widget'") == [["7"]]
assert cat.current_version() == 2

# --- an ABANDONED connection (BEGIN + DML, no COMMIT) implicitly
# rolls back: the buffer dies with the session
beeline_script("BEGIN; DELETE FROM orders", port)
assert served("SELECT COUNT(*) AS n FROM txn.orders") == [["1"]]
assert cat.current_version() == 2

# --- refusals over the wire: non-enrolled table, nested BEGIN
import subprocess as _sp
try:
    beeline_script("BEGIN; INSERT INTO unenrolled VALUES (1); COMMIT", port)
    raise SystemExit("non-enrolled DML not refused")
except RuntimeError as e:
    assert "not enrolled" in str(e), str(e)[:800]
try:
    beeline_script("BEGIN; BEGIN", port)
    raise SystemExit("nested BEGIN not refused")
except RuntimeError as e:
    assert "nested BEGIN" in str(e), str(e)[:800]
print("TXN_GUARDS_OK")

# --- READ-COMMITTED / no-read-your-own-writes, pinned on the SAME
# table over the wire (r9 verdict task 7): an INSERT buffered inside
# an open BEGIN must be INVISIBLE to a SELECT on that table from the
# same connection until COMMIT returns, and visible right after —
# the documented Hive-ACID read posture for open transactions
# (txn.py: reads pass through at statement-level READ COMMITTED
# against the published catalog state).
out = beeline_script(
    "BEGIN; "
    "INSERT INTO orders VALUES (99, 'ryow-probe'); "
    "SELECT 'RYOW' AS tag, (SELECT COUNT(*) FROM txn.orders "
    "                       WHERE order_id = 99) AS n; "
    "COMMIT", port)
assert "RYOW,0" in out, (
    "SELECT inside the open transaction must see the OLD state "
    "(no read-your-own-writes)", out[-1500:])
assert "Committed catalog v3" in out, out[-1500:]
assert served(
    "SELECT COUNT(*) AS n FROM txn.orders WHERE order_id = 99"
) == [["1"]], "the committed insert must be visible after COMMIT"
assert cat.current_version() == 3
print("TXN_RYOW_OK")
server.stop()
spark.stop()
"""


def test_thrift_server_multi_statement_transactions():
    """BEGIN; UPDATE t1; INSERT t2; COMMIT over one beeline
    connection: invisible mid-transaction (wire-read), atomically
    visible for BOTH tables after COMMIT, hash-matched against a
    TransactionCatalog replay of the same transforms; ROLLBACK and an
    abandoned connection discard the buffer; non-enrolled DML and
    nested BEGIN are refused with the error on the wire."""
    from layer_apache_hive_spark.server import free_port

    with tempfile.TemporaryDirectory() as tmp:
        out = _run(
            _TXN_SERVER.format(
                ms=f"{tmp}/metastore",
                wh=f"{tmp}/warehouse",
                port=free_port(),
            ),
            timeout=900,
        )
        assert "TXN_COMMIT_OK" in out
        assert "TXN_GUARDS_OK" in out
        assert "TXN_RYOW_OK" in out


_TXN_RACE = """
import sys, threading
from layer_apache_hive_spark.metastore import hive_session
from layer_apache_hive_spark.server import (
    start_thrift_server, wait_for_port, beeline_query, beeline_script)
from layer_apache_hive_spark.txn import (
    TxnSessionManager, install_txn_handler, txn_session_conf)
from layer_apache_hive_spark.acid import TransactionCatalog

port = {port}
conf = txn_session_conf()
conf["spark.hadoop.hive.server2.thrift.port"] = str(port)
spark = hive_session(
    app_name="thrift-txn-race", master="local[4]",
    metastore_dir={ms!r}, warehouse_dir={wh!r}, extra_conf=conf)

root = {wh!r} + "/race_cat"

class RaceOnce(TransactionCatalog):
    \"\"\"Injects a COMPLETE second wire transaction at the exact
    moment transaction A's COMMIT reads its base version — the
    test_acid.py RaceOnce scenario, driven over the wire. Thread-
    local arming keeps the interloper's own commit (which runs
    through this same catalog object on another py4j callback
    thread) from re-triggering.\"\"\"
    raced = False
    _local = threading.local()

    def commit(self, spark_, updates, max_retries=5):
        self._local.in_commit = True
        try:
            return super().commit(spark_, updates, max_retries)
        finally:
            self._local.in_commit = False

    def current_version(self):
        v = super().current_version()
        if (getattr(self._local, "in_commit", False)
                and not RaceOnce.raced and v == 1):
            RaceOnce.raced = True
            # a second, genuine wire transaction commits FIRST
            out_b = beeline_script(
                "BEGIN; UPDATE acct SET bal = bal - 10 "
                "WHERE id = 'a'; COMMIT", port)
            assert "Committed catalog v2" in out_b, out_b[-800:]
        return v

cat = RaceOnce(root)
cat.commit(spark, {{
    "acct": spark.createDataFrame([("a", 100)], "id string, bal int")}})
mgr = install_txn_handler(
    spark, TxnSessionManager(spark, cat, publish_db="txn"))
mgr.publish_all()
server = start_thrift_server(spark, port)
wait_for_port(port)

# transaction A: loses the catalog slot to the interloper and REBASES
out_a = beeline_script(
    "BEGIN; UPDATE acct SET bal = bal - 7 WHERE id = 'a'; COMMIT", port)
assert RaceOnce.raced, "race was never armed"
assert "Committed catalog v3" in out_a, (
    "txn A must rebase to v3 behind the interloper's v2", out_a[-800:])

# both effects landed, in serial order; no lost update
_, rows = beeline_query("SELECT bal FROM txn.acct WHERE id = 'a'", port)
assert rows == [["83"]], rows
assert cat.read(spark, "acct", 3).collect()[0].bal == 83
assert cat.read(spark, "acct", 2).collect()[0].bal == 90
assert cat.read(spark, "acct", 1).collect()[0].bal == 100
print("TXN_RACE_OK")
server.stop()
spark.stop()
"""


def test_thrift_server_concurrent_transaction_rebases():
    """Two wire transactions race for the same catalog slot: the
    interloper (a complete beeline BEGIN/UPDATE/COMMIT) wins v2 at the
    exact moment transaction A's COMMIT reads its base; A rebases,
    re-applies its UPDATE against the new head and commits v3 — both
    effects land in serial order (100 → 90 → 83), no lost update
    (the test_acid.py:687 scenario, over the wire)."""
    from layer_apache_hive_spark.server import free_port

    with tempfile.TemporaryDirectory() as tmp:
        out = _run(
            _TXN_RACE.format(
                ms=f"{tmp}/metastore",
                wh=f"{tmp}/warehouse",
                port=free_port(),
            ),
            timeout=900,
        )
        assert "TXN_RACE_OK" in out


_ACID_DML_SERVER = """
import os, sys
import pyarrow as pa
from layer_apache_hive_spark.metastore import hive_session
from layer_apache_hive_spark.server import (
    start_thrift_server, wait_for_port, beeline_query, beeline_script)
from layer_apache_hive_spark.txn import (
    TxnSessionManager, install_txn_handler, txn_session_conf)
from layer_apache_hive_spark.acid import TransactionCatalog
from layer_apache_hive_spark.sources.hive_acid import (
    HiveAcidInitiator, hive_acid_insert, read_hive_acid)

port = {port}
conf = txn_session_conf()
conf["spark.hadoop.hive.server2.thrift.port"] = str(port)
spark = hive_session(
    app_name="thrift-acid-dml", master="local[4]",
    metastore_dir={ms!r}, warehouse_dir={wh!r}, extra_conf=conf)

SCHEMA = [("k", "long"), ("status", "string"), ("price", "double")]
FIELDS = [("k", pa.int64()), ("status", pa.string()),
          ("price", pa.float64())]
root = {root!r}
os.makedirs(root)
seed = spark.createDataFrame(
    [(1, "A", 1.0), (2, "A", 2.0)], "k long, status string, price double")
hive_acid_insert(spark, root, seed, SCHEMA, FIELDS, 1, n_buckets=2)

init = HiveAcidInitiator(
    spark, delta_num_threshold=100, delta_pct_threshold=100.0,
    serve_compactions_as="compactions")
cat = TransactionCatalog({wh!r} + "/txn_cat")
mgr = install_txn_handler(
    spark, TxnSessionManager(spark, cat, publish=False, initiator=init))
mgr.enroll_hive_acid("acid_orders", root, SCHEMA, FIELDS, n_buckets=2)
server = start_thrift_server(spark, port)
wait_for_port(port)

def served(sql):
    _, rows = beeline_query(sql, port)
    return rows

q = "SELECT k FROM global_temp.acid_orders ORDER BY k"
assert served(q) == [["1"], ["2"]]

# 1. bare INSERT INTO the served acid view: a single-statement
# auto-commit transaction appends delta_0000002_0000002 and the
# served name re-elects immediately
out = beeline_script("INSERT INTO acid_orders SELECT 3, 'B', 3.0", port)
assert "Committed writeid 2" in out, out[-1500:]
assert "delta_0000002_0000002" in sorted(os.listdir(root))
wire = sorted(int(r[0]) for r in served(q))
local = sorted(r.k for r in read_hive_acid(spark, root, SCHEMA).collect())
assert wire == local == [1, 2, 3], (wire, local)
print("ACID_DML_INSERT_OK")

# 2. BEGIN; INSERT; INSERT; COMMIT over one connection -> ONE writeid,
# one delta_W_W_ssss dir per statement (Hive's multi-statement layout)
out = beeline_script(
    "BEGIN; "
    "INSERT INTO acid_orders SELECT 10, 'C', 1.0; "
    "INSERT INTO acid_orders SELECT 11, 'C', 1.0; "
    "COMMIT", port)
assert "Transaction started" in out, out[-1500:]
assert "Committed 2 statements" in out, out[-1500:]
entries = sorted(os.listdir(root))
assert "delta_0000003_0000003_0000" in entries, entries
assert "delta_0000003_0000003_0001" in entries, entries
assert [int(r[0]) for r in served(q)] == [1, 2, 3, 10, 11]
print("ACID_DML_TXN_OK")

# 3. ROLLBACK leaves no dir and no visible rows
before = sorted(os.listdir(root))
out = beeline_script(
    "BEGIN; INSERT INTO acid_orders SELECT 99, 'X', 0.0; ROLLBACK", port)
assert "rolled back" in out, out[-1500:]
assert sorted(os.listdir(root)) == before
assert [int(r[0]) for r in served(q)] == [1, 2, 3, 10, 11]
print("ACID_DML_ROLLBACK_OK")

# 4. ALTER TABLE ... COMPACT 'major' over the wire: request enters the
# served SHOW COMPACTIONS view as 'initiated', the initiator pass
# folds it to a base, the state flips to 'succeeded', and the served
# view re-publishes with identical rows
out = beeline_script("ALTER TABLE acid_orders COMPACT 'major'", port)
assert "Compaction request queued" in out, out[-1500:]
assert served("SELECT kind, state FROM global_temp.compactions") == [
    ["major", "initiated"]]
done = init.run_once()
assert done and done[0][1] == "major", done
assert served("SELECT kind, state FROM global_temp.compactions") == [
    ["major", "succeeded"]]
# r13: manager-driven folds stamp the visibility-txn suffix
# (HIVE-20823) from the ledger's dedicated sequence
assert sorted(os.listdir(root)) == ["base_0000003_v0000001"]
assert [int(r[0]) for r in served(q)] == [1, 2, 3, 10, 11]
print("ACID_COMPACT_WIRE_OK")

# 5. the literal Hive statement: SHOW COMPACTIONS rewrites onto the
# served queue view (the interceptor's SQL: protocol branch) — the
# exact spelling a charm-era beeline user types
assert served("SHOW COMPACTIONS") == [
    ["1", root, "major", "3", "succeeded"]]
print("SHOW_COMPACTIONS_WIRE_OK")

# 6. SHOW TRANSACTIONS parses over the wire too (no open wire txn at
# this instant -> zero rows; the statement itself is the test: vanilla
# Spark cannot parse it)
assert served("SHOW TRANSACTIONS") == []
print("SHOW_TRANSACTIONS_WIRE_OK")

# 7. wire UPDATE (r12): HIVE-14035 split-update -> delete_delta on the
# old identity + insert delta with the new image, one writeid
out = beeline_script(
    "UPDATE acid_orders SET price = price + 0.5 WHERE k = 2", port)
assert "Committed writeid 4" in out, out[-1500:]
entries = sorted(os.listdir(root))
assert "delete_delta_0000004_0000004" in entries, entries
assert "delta_0000004_0000004" in entries, entries
assert served(
    "SELECT price FROM global_temp.acid_orders WHERE k = 2") == [["2.5"]]
assert [int(r[0]) for r in served(q)] == [1, 2, 3, 10, 11]
print("ACID_UPDATE_WIRE_OK")

# 8. wire DELETE: delete_delta only, rows gone from the served view
out = beeline_script("DELETE FROM acid_orders WHERE k >= 10", port)
assert "Committed writeid 5" in out, out[-1500:]
assert "delete_delta_0000005_0000005" in sorted(os.listdir(root))
assert "delta_0000005_0000005" not in sorted(os.listdir(root))
assert [int(r[0]) for r in served(q)] == [1, 2, 3]
print("ACID_DELETE_WIRE_OK")

# 9. SHOW LOCKS: an open BEGIN block's table appears (from another
# connection), empties after ROLLBACK; vanilla Spark cannot parse the
# statement at all
out = beeline_script(
    "BEGIN; "
    "UPDATE acid_orders SET price = 0.0 WHERE k = 1; "
    "SHOW LOCKS; "
    "ROLLBACK", port)
assert "SHARED_WRITE" in out and "acid_orders" in out, out[-2000:]
assert served("SHOW LOCKS") == []
assert served(
    "SELECT price FROM global_temp.acid_orders WHERE k = 1") == [["1.0"]]
print("SHOW_LOCKS_WIRE_OK")

# 10. wire INSERT OVERWRITE: a new base_W replaces everything
out = beeline_script(
    "INSERT OVERWRITE acid_orders SELECT 7, 'Z', 7.0", port)
assert "Committed writeid 6" in out, out[-1500:]
assert "base_0000006" in sorted(os.listdir(root))
assert served(q) == [["7"]]
print("ACID_IOW_WIRE_OK")

# 11. wire MERGE (the third HIVE-14035 verb): matched row updates,
# unmatched source row inserts — one writeid, split-update dirs
spark.createDataFrame(
    [(7, "M", 1.0), (8, "M", 8.0)],
    "k long, status string, price double").createOrReplaceTempView(
    "merge_src")
out = beeline_script(
    "MERGE INTO acid_orders t USING merge_src s ON t.k = s.k "
    "WHEN MATCHED THEN UPDATE SET price = t.price + s.price "
    "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.status, s.price)",
    port)
assert "Committed writeid 7" in out, out[-1500:]
entries = sorted(os.listdir(root))
assert "delete_delta_0000007_0000007" in entries, entries
assert "delta_0000007_0000007" in entries, entries
assert served("SELECT k, price FROM global_temp.acid_orders ORDER BY k") == [
    ["7", "8.0"], ["8", "8.0"]]
print("ACID_MERGE_WIRE_OK")

server.stop()
spark.stop()
"""


def test_thrift_server_acid_dml_and_compact():
    """Wire DML into a served hive-ACID view (r10 verdict task 3) and
    ALTER TABLE ... COMPACT routed to the initiator queue (task 8):
    a bare beeline INSERT INTO appends one delta and the SELECT
    hash-matches the in-process election read; a BEGIN/INSERT x2/
    COMMIT block writes per-STATEMENT delta dirs under one writeid;
    ROLLBACK leaves no directory; the COMPACT statement shows the
    initiated -> succeeded lifecycle in the served SHOW COMPACTIONS
    view and the fold re-publishes the same rows under the same
    name."""
    from layer_apache_hive_spark.server import free_port

    with tempfile.TemporaryDirectory() as tmp:
        out = _run(
            _ACID_DML_SERVER.format(
                ms=f"{tmp}/metastore",
                wh=f"{tmp}/warehouse",
                root=f"{tmp}/acid_orders",
                port=free_port(),
            ),
            timeout=900,
        )
        assert "ACID_DML_INSERT_OK" in out
        assert "ACID_DML_TXN_OK" in out
        assert "ACID_DML_ROLLBACK_OK" in out
        assert "ACID_COMPACT_WIRE_OK" in out
        assert "SHOW_COMPACTIONS_WIRE_OK" in out
        assert "SHOW_TRANSACTIONS_WIRE_OK" in out
        assert "ACID_UPDATE_WIRE_OK" in out
        assert "ACID_DELETE_WIRE_OK" in out
        assert "SHOW_LOCKS_WIRE_OK" in out
        assert "ACID_IOW_WIRE_OK" in out
        assert "ACID_MERGE_WIRE_OK" in out
