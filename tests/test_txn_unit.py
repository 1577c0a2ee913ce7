"""TxnSessionManager unit coverage (no wire, no parser): the bridge
protocol, statement grammar, transform composition, and failure modes
— driven by calling handle() directly, exactly what the compiled
interceptor does per statement."""

from __future__ import annotations

import pytest

from layer_apache_hive_spark.acid import TransactionCatalog
from layer_apache_hive_spark.txn import TxnSessionManager


@pytest.fixture()
def mgr(spark, tmp_path):
    cat = TransactionCatalog(str(tmp_path / "cat"))
    cat.commit(
        spark,
        {
            "inv": spark.createDataFrame(
                [("w", 10, 1.5), ("g", 5, 2.5)],
                "item string, qty int, price double",
            ),
            "log": spark.createDataFrame([], "id int, note string"),
        },
    )
    return TxnSessionManager(spark, cat, publish=False)


def test_protocol_lifecycle(mgr, spark):
    assert mgr.handle("s1", "SELECT 1") == "PASS"  # no txn open
    assert mgr.handle("s1", "BEGIN").startswith("ACTIVE:Transaction started")
    assert mgr.handle("s1", "BEGIN TRANSACTION").startswith(
        "ERR_ACTIVE:nested BEGIN"
    )
    # reads pass through inside a txn (statement-level READ COMMITTED)
    assert mgr.handle("s1", "SELECT * FROM somewhere") == "PASS"
    assert mgr.handle(
        "s1", "UPDATE inv SET qty = qty + 1 WHERE item = 'w'"
    ).startswith("ACTIVE:Buffered statement 1")
    # a SECOND session is independent state
    # a SECOND session has no txn: its COMMIT answers honestly (r12 —
    # previously PASS, which let the delegate parser throw on the
    # bare keyword; the ERR_ENDED also resets a stale Java-side flag)
    assert mgr.handle("s2", "COMMIT").startswith(
        "ERR_ENDED:no transaction is open"
    )
    assert mgr.handle("s1", "ROLLBACK").startswith("DONE:Transaction rolled")
    assert mgr.catalog.current_version() == 1  # nothing committed


def test_statement_order_composes_per_table(mgr, spark):
    """INSERT then UPDATE then DELETE on one table apply in statement
    order against the pinned snapshot."""
    sid = "s"
    mgr.handle(sid, "BEGIN")
    mgr.handle(sid, "INSERT INTO inv VALUES ('n', 100, 9.0)")
    mgr.handle(sid, "UPDATE inv SET qty = qty * 2 WHERE item = 'n'")
    mgr.handle(sid, "DELETE FROM inv WHERE item = 'g'")
    out = mgr.handle(sid, "COMMIT")
    assert out.startswith("DONE:Committed catalog v2"), out
    rows = {
        (r.item, r.qty, r.price)
        for r in mgr.catalog.read(spark, "inv").collect()
    }
    assert rows == {("w", 10, 1.5), ("n", 200, 9.0)}, rows


def test_insert_overwrite_and_select_body(mgr, spark):
    sid = "s"
    mgr.handle(sid, "BEGIN")
    mgr.handle(
        sid,
        "INSERT OVERWRITE TABLE inv "
        "SELECT 'z' AS a, 1 AS b, 0.5 AS c",
    )
    assert mgr.handle(sid, "COMMIT").startswith("DONE:Committed")
    rows = [tuple(r) for r in mgr.catalog.read(spark, "inv").collect()]
    assert rows == [("z", 1, 0.5)]


def test_update_set_list_with_function_commas(mgr, spark):
    sid = "s"
    mgr.handle(sid, "BEGIN")
    out = mgr.handle(
        sid,
        "UPDATE inv SET qty = GREATEST(qty, 7), "
        "price = round(price + 0.25, 1) WHERE item IN ('w', 'g')",
    )
    assert out.startswith("ACTIVE:"), out
    assert mgr.handle(sid, "COMMIT").startswith("DONE:")
    rows = {
        (r.item, r.qty, r.price)
        for r in mgr.catalog.read(spark, "inv").collect()
    }
    assert rows == {("w", 10, 1.8), ("g", 7, 2.8)}, rows


def test_delete_without_where_empties_table(mgr, spark):
    sid = "s"
    mgr.handle(sid, "BEGIN")
    mgr.handle(sid, "DELETE FROM inv")
    assert mgr.handle(sid, "COMMIT").startswith("DONE:")
    assert mgr.catalog.read(spark, "inv").count() == 0


def test_null_predicate_rows_survive_delete(mgr, spark):
    """SQL DELETE removes rows where the predicate is TRUE; a NULL
    predicate row must be KEPT (the coalesce-false contract)."""
    sid = "s"
    mgr.catalog.commit(
        spark,
        {
            "inv": spark.createDataFrame(
                [("w", None, 1.0), ("g", 5, 2.0)],
                "item string, qty int, price double",
            )
        },
    )
    mgr.handle(sid, "BEGIN")
    mgr.handle(sid, "DELETE FROM inv WHERE qty < 10")
    mgr.handle(sid, "COMMIT")
    rows = [r.item for r in mgr.catalog.read(spark, "inv").collect()]
    assert rows == ["w"], rows  # NULL-qty row kept, g deleted


def test_commit_failures_end_transaction(mgr, spark):
    # arity mismatch surfaces at COMMIT evaluation and CLOSES the txn
    sid = "s"
    mgr.handle(sid, "BEGIN")
    mgr.handle(sid, "INSERT INTO inv VALUES (1)")
    out = mgr.handle(sid, "COMMIT")
    assert out.startswith("ERR_ENDED:commit failed"), out
    assert mgr.handle(sid, "COMMIT").startswith(  # txn is gone (r12)
        "ERR_ENDED:no transaction is open"
    )
    assert mgr.catalog.current_version() == 1

    # unknown SET column
    mgr.handle(sid, "BEGIN")
    mgr.handle(sid, "UPDATE inv SET nope = 1")
    out = mgr.handle(sid, "COMMIT")
    assert out.startswith("ERR_ENDED:"), out

    # DML on a non-enrolled table refused, txn stays open
    mgr.handle(sid, "BEGIN")
    out = mgr.handle(sid, "INSERT INTO elsewhere VALUES (1)")
    assert out.startswith("ERR_ACTIVE:") and "not enrolled" in out
    assert mgr.handle(sid, "ROLLBACK").startswith("DONE:")


def test_empty_commit_is_noop(mgr):
    mgr.handle("s", "BEGIN")
    assert mgr.handle("s", "COMMIT").startswith("DONE:Nothing to commit")
    assert mgr.catalog.current_version() == 1


# --- GRANT/REVOKE/SHOW GRANTS (r8: SQL-std auth statements served) ---------


@pytest.fixture()
def acl_env(tmp_path, monkeypatch):
    acl = tmp_path / "acl.txt"
    acl.write_text("admin=*;intern=customer\n")
    monkeypatch.setenv("SPARK_GRAFT_HS2_ACL_FILE", str(acl))
    return acl


def test_grant_revoke_show_over_the_bridge(mgr, acl_env):
    """3-arg bridge form: an admin ('*'-granted) wire user GRANTs,
    REVOKEs, and SHOWs; the file store reflects each immediately."""
    out = mgr.handle("s1", "admin", "GRANT SELECT ON nation TO intern")
    assert out.startswith("DONE:Granted SELECT on 'nation' to 'intern'")
    assert "nation" in acl_env.read_text()
    out = mgr.handle("s1", "admin", "SHOW GRANTS FOR intern")
    assert out == "DONE:grants for 'intern': customer, nation"
    out = mgr.handle(
        "s1", "admin", "REVOKE SELECT ON nation FROM intern"
    )
    assert out.startswith("DONE:Revoked 'nation'")
    assert "nation" not in acl_env.read_text()


def test_column_scoped_grant_statement(mgr, acl_env):
    """GRANT SELECT(c1, c2) ON t TO u writes the obj:c1|c2 column
    token authz.py's rule enforces."""
    out = mgr.handle(
        "s1", "admin",
        "GRANT SELECT(n_name, n_nationkey) ON TABLE nation TO USER intern",
    )
    assert "'nation:n_name|n_nationkey'" in out
    assert "nation:n_name|n_nationkey" in acl_env.read_text()


def test_grant_admin_gating(mgr, acl_env):
    """Non-admin wire users cannot GRANT/REVOKE; anyone may SHOW
    GRANTS for themselves but not for others; the in-process session
    (empty user) is admin."""
    out = mgr.handle("s1", "intern", "GRANT SELECT ON nation TO intern")
    assert out.startswith("ERR_ENDED:") and "admin" in out
    assert mgr.handle("s1", "intern", "SHOW GRANTS") == (
        "DONE:grants for 'intern': customer"
    )
    out = mgr.handle("s1", "intern", "SHOW GRANTS FOR admin")
    assert out.startswith("ERR_ENDED:")
    # 2-arg unit form = in-process = admin
    out = mgr.handle("s1", "GRANT SELECT ON region TO intern")
    assert out.startswith("DONE:Granted")


def test_grant_refused_inside_transaction(mgr, acl_env):
    """Auth statements are not transactional: refused inside an open
    BEGIN, transaction stays open (ERR_ACTIVE)."""
    mgr.handle("s1", "admin", "BEGIN")
    out = mgr.handle("s1", "admin", "GRANT SELECT ON nation TO intern")
    assert out.startswith("ERR_ACTIVE:")
    assert mgr.handle("s1", "admin", "ROLLBACK").startswith("DONE:")


def test_grant_without_policy_store(mgr, monkeypatch):
    """No SPARK_GRAFT_HS2_ACL_FILE -> served GRANT fails loudly (the
    env ACL cannot be mutated after JVM start)."""
    monkeypatch.delenv("SPARK_GRAFT_HS2_ACL_FILE", raising=False)
    out = mgr.handle("s1", "admin", "GRANT SELECT ON nation TO intern")
    assert out.startswith("ERR_ENDED:") and "policy store" in out


def test_malformed_grant_statement(mgr, acl_env):
    out = mgr.handle("s1", "admin", "GRANT INSERT ON nation TO intern")
    assert out.startswith("ERR_ENDED:unsupported authorization")


def test_txn_dml_enforces_wire_user_grants(mgr, spark, monkeypatch):
    """r8 laundering fix: buffered DML executes at COMMIT as the
    in-process service, so the MANAGER must enforce the BEGIN-time
    wire identity's grants — target tables and every table referenced
    by an INSERT body need a FULL grant; column-scoped tokens do not
    authorize transactional DML."""
    monkeypatch.delenv("SPARK_GRAFT_HS2_ACL_FILE", raising=False)
    monkeypatch.setenv(
        "SPARK_GRAFT_HS2_ACL", "intern=inv;clerk=inv:qty;etl=*"
    )
    spark.sql("DROP TABLE IF EXISTS secret_txn_probe")
    spark.sql(
        "CREATE TABLE secret_txn_probe USING parquet AS "
        "SELECT 'w' AS item, 99 AS qty, 9.9 AS price"
    )
    try:
        assert mgr.handle("s1", "intern", "BEGIN").startswith("ACTIVE:")
        # INSERT body reading an ungranted catalog table: refused
        out = mgr.handle(
            "s1", "intern",
            "INSERT INTO inv SELECT item, qty, price FROM secret_txn_probe",
        )
        assert out.startswith("ERR_ACTIVE:Authorization error") and (
            "secret_txn_probe" in out
        ), out
        # ungranted TARGET refused even with a literal body
        out = mgr.handle(
            "s1", "intern", "INSERT INTO log VALUES (1, 'x')"
        )
        assert out.startswith("ERR_ACTIVE:Authorization error"), out
        # granted target + literal rows / UPDATE / DELETE: allowed
        assert mgr.handle(
            "s1", "intern", "INSERT INTO inv VALUES ('n', 1, 1.0)"
        ).startswith("ACTIVE:Buffered")
        assert mgr.handle(
            "s1", "intern", "UPDATE inv SET qty = 0 WHERE item = 'w'"
        ).startswith("ACTIVE:Buffered")
        assert mgr.handle("s1", "intern", "COMMIT").startswith(
            "DONE:Committed"
        )
        # column-scoped token does NOT authorize transactional DML
        assert mgr.handle("s2", "clerk", "BEGIN").startswith("ACTIVE:")
        out = mgr.handle(
            "s2", "clerk", "INSERT INTO inv VALUES ('n', 1, 1.0)"
        )
        assert out.startswith("ERR_ACTIVE:Authorization error"), out
        assert mgr.handle("s2", "clerk", "ROLLBACK").startswith("DONE:")
        # '*' user and the in-process identity stay unrestricted
        assert mgr.handle("s3", "etl", "BEGIN").startswith("ACTIVE:")
        assert mgr.handle(
            "s3", "etl",
            "INSERT INTO inv SELECT item, qty, price FROM secret_txn_probe",
        ).startswith("ACTIVE:Buffered")
        assert mgr.handle("s3", "etl", "ROLLBACK").startswith("DONE:")
        assert mgr.handle("s4", "BEGIN").startswith("ACTIVE:")
        assert mgr.handle(
            "s4",
            "INSERT INTO inv SELECT item, qty, price FROM secret_txn_probe",
        ).startswith("ACTIVE:Buffered")
        assert mgr.handle("s4", "ROLLBACK").startswith("DONE:")
    finally:
        spark.sql("DROP TABLE IF EXISTS secret_txn_probe")


# --- r9: expression-level authorization (advisor-confirmed bypasses) -------


@pytest.fixture()
def scoped_mgr(mgr, spark, monkeypatch):
    """An ACL-scoped manager plus an ungranted catalog table holding a
    'secret' value — the advisor's laundering target."""
    monkeypatch.delenv("SPARK_GRAFT_HS2_ACL_FILE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_HS2_ACL", "intern=inv;etl=*")
    spark.sql("DROP TABLE IF EXISTS secret_probe_r9")
    spark.sql(
        "CREATE TABLE secret_probe_r9 USING parquet AS "
        "SELECT 777 AS sq"
    )
    yield mgr
    spark.sql("DROP TABLE IF EXISTS secret_probe_r9")


def test_update_set_subquery_laundering_denied(scoped_mgr):
    """Advisor exploit 1: 'UPDATE inv SET qty = (SELECT max(sq) FROM
    secret_probe)' buffered and committed under a scoped user,
    copying the secret into the granted table. SET right-hand sides
    now walk the analyzed plan including subquery expressions."""
    m = scoped_mgr
    assert m.handle("s1", "intern", "BEGIN").startswith("ACTIVE:")
    out = m.handle(
        "s1", "intern",
        "UPDATE inv SET qty = (SELECT max(sq) FROM secret_probe_r9)",
    )
    assert out.startswith("ERR_ACTIVE:Authorization error") and (
        "secret_probe_r9" in out
    ), out
    # the transaction survives the refusal and granted DML still works
    assert m.handle(
        "s1", "intern", "UPDATE inv SET qty = qty + 1"
    ).startswith("ACTIVE:Buffered")
    assert m.handle("s1", "intern", "ROLLBACK").startswith("DONE:")


def test_where_predicate_subquery_denied(scoped_mgr):
    """UPDATE/DELETE WHERE predicates execute at COMMIT too — a
    subquery there is the same laundering channel (existence oracle
    even without copying values)."""
    m = scoped_mgr
    assert m.handle("s1", "intern", "BEGIN").startswith("ACTIVE:")
    out = m.handle(
        "s1", "intern",
        "DELETE FROM inv WHERE qty = (SELECT max(sq) FROM secret_probe_r9)",
    )
    assert out.startswith("ERR_ACTIVE:Authorization error"), out
    out = m.handle(
        "s1", "intern",
        "UPDATE inv SET qty = 0 "
        "WHERE EXISTS (SELECT 1 FROM secret_probe_r9)",
    )
    assert out.startswith("ERR_ACTIVE:Authorization error"), out
    assert m.handle("s1", "intern", "ROLLBACK").startswith("DONE:")


def test_insert_body_scalar_subquery_denied(scoped_mgr):
    """Advisor exploit 2: collectLeaves does not descend into
    subquery-expression plans, so 'INSERT INTO inv SELECT x,
    (SELECT max(sq) FROM secret_probe), 1.0' passed authorization.
    The walk now includes plan.subqueriesAll()."""
    m = scoped_mgr
    assert m.handle("s1", "intern", "BEGIN").startswith("ACTIVE:")
    out = m.handle(
        "s1", "intern",
        "INSERT INTO inv SELECT 'x', "
        "(SELECT max(sq) FROM secret_probe_r9), 1.0",
    )
    assert out.startswith("ERR_ACTIVE:Authorization error") and (
        "secret_probe_r9" in out
    ), out
    assert m.handle("s1", "intern", "ROLLBACK").startswith("DONE:")


def test_star_user_expression_subqueries_allowed(scoped_mgr, spark):
    """The '*' user and the in-process identity keep full expression
    power — and the committed result proves the subquery executed."""
    m = scoped_mgr
    assert m.handle("s1", "etl", "BEGIN").startswith("ACTIVE:")
    assert m.handle(
        "s1", "etl",
        "UPDATE inv SET qty = (SELECT max(sq) FROM secret_probe_r9) "
        "WHERE item = 'w'",
    ).startswith("ACTIVE:Buffered")
    assert m.handle("s1", "etl", "COMMIT").startswith("DONE:Committed")
    rows = {
        (r.item, r.qty) for r in m.catalog.read(spark, "inv").collect()
    }
    assert ("w", 777) in rows, rows


def test_analysis_error_keeps_transaction_open(scoped_mgr):
    """Advisor medium: a typo'd table in ONE statement must refuse
    that statement (ERR_ACTIVE) without discarding the buffer —
    previously the catch-all popped the whole transaction."""
    m = scoped_mgr
    assert m.handle("s1", "intern", "BEGIN").startswith("ACTIVE:")
    assert m.handle(
        "s1", "intern", "INSERT INTO inv VALUES ('a', 1, 1.0)"
    ).startswith("ACTIVE:Buffered statement 1")
    out = m.handle(
        "s1", "intern",
        "INSERT INTO inv SELECT * FROM no_such_table_xyz",
    )
    assert out.startswith("ERR_ACTIVE:statement rejected"), out
    # buffer intact: the next buffered statement is #2, and COMMIT
    # applies statement 1
    assert m.handle(
        "s1", "intern", "UPDATE inv SET qty = 2 WHERE item = 'a'"
    ).startswith("ACTIVE:Buffered statement 2")
    assert m.handle("s1", "intern", "COMMIT").startswith("DONE:Committed")
