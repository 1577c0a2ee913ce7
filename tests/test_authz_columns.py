"""Column-level + db-qualified authorization at the served endpoint
(round-7 verdict task 5 + advisor db-qualification item): the
compiled analyzer rule walks every referenced attribute, so a
column-scoped grant gates projections, SELECT * expansion, WHERE
references and subqueries; db-qualified grants stop bare-name
over-granting across databases. Fresh-JVM subprocess like the other
server tests."""

from __future__ import annotations

import subprocess
import sys
import tempfile

from layer_apache_hive_spark.session import PACKAGE_ROOT

SF_DIR = "/root/testdata/sf0.001"


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


_COLGRANT_SERVER = """
import os, sys
from layer_apache_hive_spark.metastore import corpus_db
db = corpus_db({sf!r})
os.environ["SPARK_GRAFT_HS2_CREDENTIALS"] = (
    "etl:pipeline,intern:readonly,clerk:stamp")
# etl: everything. intern: ONLY (n_name, n_nationkey) of nation,
# plus full customer for the baseline table-level checks.
# clerk: region ONLY in the corpus db (db-qualified).
# FILE store (re-read per statement) so the masking section can
# GRANT live without a server restart.
acl_file = {ms!r} + "_acl.txt"
os.makedirs(os.path.dirname(acl_file), exist_ok=True)
with open(acl_file, "w") as fh:
    fh.write("etl=*;intern=nation:n_name|n_nationkey,customer;"
             f"clerk={{db}}.region\\n")
os.environ["SPARK_GRAFT_HS2_ACL_FILE"] = acl_file
from layer_apache_hive_spark.auth import auth_session_conf
from layer_apache_hive_spark.authz import authz_session_conf
from layer_apache_hive_spark.metastore import hive_session, provision_corpus
from layer_apache_hive_spark.server import (
    start_thrift_server, wait_for_port, beeline_query)

port = {port}
conf = authz_session_conf(auth_session_conf())
conf["spark.hadoop.hive.server2.thrift.port"] = str(port)
spark = hive_session(
    app_name="thrift-colgrant", master="local[4]",
    metastore_dir={ms!r}, warehouse_dir={wh!r}, extra_conf=conf)
provision_corpus(spark, {sf!r}, metastore_dir={ms!r})
# a SECOND database with a table of the same bare name: the
# db-qualified grant must not leak across databases
spark.sql("CREATE DATABASE IF NOT EXISTS otherdb")
spark.sql("DROP TABLE IF EXISTS otherdb.region")
spark.sql(f"CREATE TABLE otherdb.region AS SELECT * FROM {{db}}.region")
server = start_thrift_server(spark, port)
wait_for_port(port)

def ok(user, pw, sql):
    return beeline_query(sql, port, user=user, password=pw)

def denied(user, pw, sql, needle=None):
    try:
        beeline_query(sql, port, user=user, password=pw)
        return False
    except RuntimeError as e:
        if "Authorization error" not in str(e):
            raise
        return needle is None or needle in str(e)

# --- column-scoped SELECT: granted columns pass ...
_, rows = ok("intern", "readonly",
             f"SELECT n_name, n_nationkey FROM {{db}}.nation "
             "ORDER BY n_nationkey LIMIT 2")
assert len(rows) == 2 and rows[0][0], rows
# aggregates/grouping over granted columns pass too
_, rows = ok("intern", "readonly",
             f"SELECT n_name, COUNT(*) AS n FROM {{db}}.nation "
             "GROUP BY n_name ORDER BY n_name LIMIT 1")
assert rows[0][1] == "1", rows

# ... an ungranted column is refused wherever it appears (the
# testdata nation schema is n_nationkey/n_name/n_regionkey)
assert denied("intern", "readonly",
              f"SELECT n_regionkey FROM {{db}}.nation", "n_regionkey")
assert denied("intern", "readonly",
              f"SELECT * FROM {{db}}.nation", "n_regionkey"), (
    "SELECT * expansion must hit the column gate")
assert denied("intern", "readonly",
              f"TABLE {{db}}.nation", "n_regionkey"), (
    "bare-relation statement has no referencing node; the root "
    "output seed must still hit the column gate (r9 advisor)")
assert denied("intern", "readonly",
              f"SELECT n_name FROM {{db}}.nation "
              "WHERE n_regionkey = 0", "n_regionkey"), (
    "WHERE reference must hit the column gate")
assert denied("intern", "readonly",
              f"SELECT c_name FROM {{db}}.customer WHERE c_nationkey IN "
              f"(SELECT n_regionkey FROM {{db}}.nation)", "n_regionkey"), (
    "subquery reference must hit the column gate")

# zero-column statements over a column-granted object pass (the
# grant is on the object; no ungranted values flow)
_, rows = ok("intern", "readonly",
             f"SELECT COUNT(*) AS n FROM {{db}}.nation")
assert rows == [["25"]], rows

# metadata/DDL needs a FULL grant: column-scoped DESCRIBE/DROP refused
assert denied("intern", "readonly", f"DESCRIBE {{db}}.nation")
assert denied("intern", "readonly", f"DROP TABLE {{db}}.nation")

# table-level behavior unchanged: full grant on customer still works,
# ungranted tables still refused outright
_, rows = ok("intern", "readonly",
             f"SELECT COUNT(*) AS n FROM {{db}}.customer")
assert rows == [["150"]], rows
assert denied("intern", "readonly",
              f"SELECT COUNT(*) AS n FROM {{db}}.supplier")
print("COLGRANT_OK")

# --- policy-driven column MASKING, the HS2 recipe: a definer-
# semantics view exposes masked columns; the scoped user holds the
# VIEW's grant (live, via the file store) and no table grant at all
spark.sql(
    f"CREATE OR REPLACE VIEW {{db}}.nation_masked AS "
    f"SELECT n_nationkey, md5(n_name) AS n_name_masked "
    f"FROM {{db}}.nation")
from layer_apache_hive_spark.authz import grant
grant(acl_file, "clerk", "nation_masked")  # next statement sees it
_, rows = ok("clerk", "stamp",
             f"SELECT n_nationkey, n_name_masked FROM "
             f"{{db}}.nation_masked ORDER BY n_nationkey LIMIT 2")
assert len(rows) == 2 and len(rows[0][1]) == 32, (
    "masked view must serve the md5 column to the view-granted user")
assert denied("clerk", "stamp",
              f"SELECT n_name FROM {{db}}.nation"), (
    "view grant must NOT leak the underlying table")
print("MASKVIEW_OK")

# --- db-qualified grants: clerk reads the corpus db's region ...
_, rows = ok("clerk", "stamp",
             f"SELECT COUNT(*) AS n FROM {{db}}.region")
assert rows == [["5"]], rows
# ... but NOT the same bare name in another database
assert denied("clerk", "stamp",
              "SELECT COUNT(*) AS n FROM otherdb.region"), (
    "db-qualified grant leaked across databases")
# and the full-grant user is unaffected
_, rows = ok("etl", "pipeline",
             "SELECT COUNT(*) AS n FROM otherdb.region")
assert rows == [["5"]], rows
print("DBQUAL_OK")
server.stop()
spark.stop()
"""


def test_thrift_server_column_level_and_db_qualified_grants():
    """Wire tests: a column-scoped user SELECTs granted columns
    (projection/aggregate) but is refused on an ungranted column via
    direct projection, SELECT * expansion, WHERE reference, and a
    subquery; COUNT(*) passes; DESCRIBE/DROP need a full grant;
    db-qualified grants do not leak to same-named tables in other
    databases; table-level behavior is unchanged."""
    from layer_apache_hive_spark.server import free_port

    with tempfile.TemporaryDirectory() as tmp:
        out = _run(
            _COLGRANT_SERVER.format(
                ms=f"{tmp}/metastore",
                wh=f"{tmp}/warehouse",
                sf=SF_DIR,
                port=free_port(),
            ),
            timeout=900,
        )
        assert "COLGRANT_OK" in out
        assert "DBQUAL_OK" in out


_GRANT_WIRE_SERVER = """
import os, sys
from layer_apache_hive_spark.metastore import corpus_db
db = corpus_db({sf!r})
os.environ["SPARK_GRAFT_HS2_CREDENTIALS"] = (
    "etl:pipeline,intern:readonly,clerk:stamp")
acl_file = {ms!r} + "_acl.txt"
with open(acl_file, "w") as fh:
    fh.write("etl=*\\n")
os.environ["SPARK_GRAFT_HS2_ACL_FILE"] = acl_file
from layer_apache_hive_spark.auth import auth_session_conf
from layer_apache_hive_spark.authz import authz_session_conf
from layer_apache_hive_spark.txn import (
    TxnSessionManager, install_txn_handler, txn_session_conf)
from layer_apache_hive_spark.acid import TransactionCatalog
from layer_apache_hive_spark.metastore import hive_session, provision_corpus
from layer_apache_hive_spark.server import (
    start_thrift_server, wait_for_port, beeline_query)

port = {port}
conf = txn_session_conf(authz_session_conf(auth_session_conf()))
conf["spark.hadoop.hive.server2.thrift.port"] = str(port)
spark = hive_session(
    app_name="thrift-grantwire", master="local[4]",
    metastore_dir={ms!r}, warehouse_dir={wh!r}, extra_conf=conf)
provision_corpus(spark, {sf!r}, metastore_dir={ms!r})
install_txn_handler(spark, TxnSessionManager(
    spark, TransactionCatalog({wh!r} + "/grant_cat"), publish=False))
server = start_thrift_server(spark, port)
wait_for_port(port)

def ok(user, pw, sql):
    return beeline_query(sql, port, user=user, password=pw)

def refused(user, pw, sql, needle):
    try:
        beeline_query(sql, port, user=user, password=pw)
        return False
    except RuntimeError as e:
        return needle in str(e)

# default-deny before any grant
assert refused("intern", "readonly",
               f"SELECT COUNT(*) FROM {{db}}.nation",
               "Authorization error")
# non-admin cannot GRANT themselves in
assert refused("intern", "readonly",
               "GRANT SELECT ON nation TO intern", "admin privilege")
# admin GRANTs over the wire; the next statement sees it live
_, rows = ok("etl", "pipeline", "GRANT SELECT ON nation TO intern")
assert "Granted SELECT" in rows[0][0], rows
_, rows = ok("intern", "readonly",
             f"SELECT COUNT(*) AS n FROM {{db}}.nation")
assert rows == [["25"]], rows
# SHOW GRANTS reflects it (admin for others, self always)
_, rows = ok("etl", "pipeline", "SHOW GRANTS FOR intern")
assert "nation" in rows[0][0], rows
_, rows = ok("intern", "readonly", "SHOW GRANTS")
assert "nation" in rows[0][0], rows
print("GRANT_WIRE_OK")

# column-scoped grant over the wire
_, rows = ok("etl", "pipeline",
             "GRANT SELECT(n_name, n_nationkey) ON TABLE nation "
             "TO USER clerk")
assert "nation:n_name|n_nationkey" in rows[0][0], rows
_, rows = ok("clerk", "stamp",
             f"SELECT n_name FROM {{db}}.nation ORDER BY n_nationkey "
             "LIMIT 1")
assert rows and rows[0][0], rows
assert refused("clerk", "stamp",
               f"SELECT n_regionkey FROM {{db}}.nation",
               "Authorization error")
# REVOKE closes the door again on the next statement
_, rows = ok("etl", "pipeline", "REVOKE SELECT ON nation FROM intern")
assert "Revoked" in rows[0][0], rows
assert refused("intern", "readonly",
               f"SELECT COUNT(*) FROM {{db}}.nation",
               "Authorization error")
print("REVOKE_WIRE_OK")
server.stop()
spark.stop()
"""


def test_thrift_server_grant_revoke_statements_over_the_wire():
    """r8: GRANT/REVOKE/SHOW GRANTS spoken as SQL by a real beeline
    client, bound to the live file-backed ACL store through the
    parser interceptor: admin-gated ('*' grant or in-process),
    effective on the very next statement with no server restart,
    column-scoped grants included."""
    from layer_apache_hive_spark.server import free_port

    with tempfile.TemporaryDirectory() as tmp:
        out = _run(
            _GRANT_WIRE_SERVER.format(
                ms=f"{tmp}/metastore",
                wh=f"{tmp}/warehouse",
                sf=SF_DIR,
                port=free_port(),
            ),
            timeout=900,
        )
        assert "GRANT_WIRE_OK" in out
        assert "REVOKE_WIRE_OK" in out
