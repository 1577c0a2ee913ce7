"""Wire DML parsed by Spark's own parser: adversarial statements.

``TxnSessionManager`` hands INSERT/UPDATE/DELETE/MERGE to Spark's SQL
parser and takes each op piece (INSERT body, SET value, predicate,
MERGE source and clauses) as the statement's own text of that parse
subtree. Keywords inside string literals, comments, nested subqueries,
backticked names, commas inside function arguments and literals, and
CASE WHEN inside a MERGE action must therefore all land where the
parse tree puts them. Each case runs on a flat and on a partitioned
enrollment and the final rows are asserted.
"""

from __future__ import annotations

import os

import pytest

from layer_apache_hive_spark.sources.hive_acid import (
    HiveWriteIdLedger,
    read_hive_acid,
)
from layer_apache_hive_spark.txn import _dml_text
from tests.test_round10_properties import SCHEMA, _fields

SRC_DDL = "k long, status string, price double, sp string"


def _enrolled(spark, tmp_path, layout):
    """(manager, ledger, root, name) of an empty enrollment."""
    from layer_apache_hive_spark.acid import TransactionCatalog
    from layer_apache_hive_spark.txn import TxnSessionManager

    led = HiveWriteIdLedger(str(tmp_path / "ledger.jsonl"))
    mgr = TxnSessionManager(
        spark, TransactionCatalog(str(tmp_path / "cat")),
        publish=False, ledger=led,
    )
    root = str(tmp_path / "adv")
    os.makedirs(root)
    name = f"adv_{layout}"
    mgr.enroll_hive_acid(
        name, root, SCHEMA, _fields(), n_buckets=2,
        partition_col="p" if layout == "partitioned" else None,
    )
    return mgr, led, root, name


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
def test_wire_dml_adversarial_statements(spark, tmp_path, layout):
    part = layout == "partitioned"
    mgr, led, root, name = _enrolled(spark, tmp_path, layout)

    def pv(expr):  # the partition value rides last
        return f", {expr}" if part else ""

    spark.createDataFrame(
        [(2, "S", 5.0, "Y"), (5, "S", 50.0, "X"), (6, "S", 60.0, "Y")],
        SRC_DDL,
    ).createOrReplaceTempView("adv_src")
    spark.createDataFrame([(2,), (5,)], "k long").createOrReplaceTempView(
        "adv_keep"
    )
    script = [
        # commas inside function arguments and string literals, in
        # positional VALUES
        f"INSERT INTO {name} VALUES (1, 'a,b', 1.0{pv(repr('X'))}), "
        f"(2, concat('x', ','), 2.0{pv(repr('Y'))}), "
        f"(3, 'WHERE', 3.0{pv(repr('X'))}), (4, 'd', 4.0{pv(repr('Y'))})",
        # a WHERE keyword inside a SET literal
        f"UPDATE {name} SET status = 'x WHERE y', price = price + 1 "
        "WHERE k = 1",
        # SET lists with commas inside function calls and literals
        f"UPDATE {name} SET status = 'p,q', price = greatest(price, 9.5) "
        "WHERE k = 2",
        f"UPDATE {name} SET status = concat('a''b', ','), price = 1 "
        "WHERE k = 4",
        # a WHERE keyword inside a LIKE pattern
        f"DELETE FROM {name} WHERE status LIKE '%WHERE%' AND k > 2",
        # -- and /* */ comments
        f"UPDATE {name} /* target */ SET price = price * 2 -- doubled\n"
        "WHERE k = 4 -- four",
        # 'WHEN MATCHED' inside a source literal, a nested subquery in
        # USING, backticked names, CASE WHEN in a SET value, and a
        # comma inside a positional VALUES literal
        f"MERGE INTO `{name}` AS tt USING (SELECT k, 'WHEN MATCHED' AS "
        "status, price, sp FROM (SELECT * FROM adv_src WHERE k IN "
        "(SELECT k FROM adv_keep)) x) s ON tt.`k` = s.k "
        "WHEN MATCHED THEN UPDATE SET price = CASE WHEN s.price > "
        "tt.price THEN s.price ELSE tt.price + 0.5 END, "
        "status = s.status "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, concat(s.status, "
        f"', new'), s.price{pv('s.sp')})",
        # comments between MERGE clauses, conditional clauses
        f"MERGE INTO {name} t -- target\nUSING adv_src s /* source */ "
        "ON t.k = s.k\nWHEN MATCHED AND s.k = 6 THEN DELETE\n"
        "WHEN NOT MATCHED AND s.k = 6 THEN INSERT VALUES "
        f"(s.k, 'x, y', 6.5{pv(repr('Y'))}) -- last",
    ]
    for w, sql in enumerate(script, start=1):
        out = mgr.handle("s1", sql)
        assert out.startswith(f"DONE:Committed writeid {w}"), (sql, out)
    rows = read_hive_acid(
        spark, root, SCHEMA, valid_writeids=led.valid_writeids(root),
        partition_col="p" if part else None,
    ).collect()
    assert sorted((r.k, r.status, r.price) for r in rows) == [
        (1, "x WHERE y", 2.0),
        (2, "WHEN MATCHED", 10.0),
        (4, "a'b,", 2.0),
        (5, "WHEN MATCHED, new", 50.0),
        (6, "x, y", 6.5),
    ]
    if part:
        assert sorted((r.k, r.p) for r in rows) == [
            (1, "X"), (2, "Y"), (4, "Y"), (5, "X"), (6, "Y"),
        ]


def test_piece_text_is_the_statement_subtree(spark):
    """A piece is the statement's own text of its subtree and must
    re-parse to the same tree; a node that the statement does not
    locate (here: one parsed from another statement) is not isolated,
    so the caller refuses instead of guessing."""
    dml = _dml_text(spark)
    a = dml.parse("DELETE FROM t WHERE s LIKE '%WHERE%' -- c", None)
    b = dml.parse("DELETE FROM t WHERE k = 2", None)
    assert dml.text(a, a.condition()) == "s LIKE '%WHERE%'"
    assert dml.text(a, b.condition()) is None


def test_insert_forms_the_op_cannot_carry_are_refused(spark, tmp_path):
    """IF NOT EXISTS, WITH (options) and REPLACE WHERE change what an
    INSERT writes, and the op tuple has no field for them: each is
    refused and nothing is written. Run as a plain overwrite, the IF
    NOT EXISTS statement would replace partition X's rows."""
    mgr, led, root, name = _enrolled(spark, tmp_path, "partitioned")
    out = mgr.handle("s1", f"INSERT INTO {name} VALUES (1, 'a', 1.0, 'X')")
    assert out.startswith("DONE:Committed writeid 1"), out
    def dirs():
        return sorted(d for d, _, _ in os.walk(root))

    before = dirs()
    for sql in [
        f"INSERT OVERWRITE {name} PARTITION (p='X') IF NOT EXISTS "
        "SELECT 9L, 'z', 9.0",
        f"INSERT INTO {name} WITH ('k'='v') VALUES (2, 'b', 2.0, 'X')",
        f"INSERT INTO {name} REPLACE WHERE k = 1 SELECT 9L, 'z', 9.0, 'X'",
    ]:
        out = mgr.handle("s1", sql)
        assert out.startswith("ERR_ENDED:"), (sql, out)
    assert dirs() == before  # no delta, base or partition dir
    rows = read_hive_acid(
        spark, root, SCHEMA, valid_writeids=led.valid_writeids(root),
        partition_col="p",
    ).collect()
    assert [(r.k, r.status, r.p) for r in rows] == [(1, "a", "X")]


def test_dml_parse_errors_pass_unless_target_enrolled(spark, tmp_path):
    """Outside a transaction a DML syntax error is refused only when
    its target is enrolled; on any other table it passes, so the
    delegate parser reports Spark's own error. Only a MERGE whose
    clause structure Spark rejects is called an unsupported clause."""
    mgr, _, root, name = _enrolled(spark, tmp_path, "flat")
    assert mgr.handle("s1", "UPDATE plain_t SET = 1") == "PASS"
    assert mgr.handle("s1", "DELETE FROM plain_t WHERE") == "PASS"
    out = mgr.handle("s1", f"UPDATE {name} SET = 1")
    assert out.startswith("ERR_ENDED:"), out
    assert "PARSE_SYNTAX_ERROR" in out and "MERGE" not in out, out
    merge = f"MERGE INTO {name} t USING adv_src s ON t.k = s.k "
    out = mgr.handle("s1", merge + "WHEN MATCHED THEN FROB")
    assert out.startswith("ERR_ENDED:"), out
    assert "unsupported MERGE clause" not in out, out
    out = mgr.handle(
        "s1",
        merge + "WHEN MATCHED THEN DELETE WHEN MATCHED AND s.k = 1 "
        "THEN DELETE",
    )
    assert out.startswith("ERR_ENDED:unsupported MERGE clause:"), out
    assert os.listdir(root) == []


def test_scoped_merge_may_name_the_partition_column(
    spark, tmp_path, monkeypatch
):
    """A scoped user's MERGE is authorized by analyzing its clauses
    over an empty frame of the target's columns. That frame carries
    the partition column too, so an ON condition naming it analyzes
    and the MERGE runs."""
    mgr, led, root, name = _enrolled(spark, tmp_path, "partitioned")
    monkeypatch.delenv("SPARK_GRAFT_HS2_ACL_FILE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_HS2_ACL", f"etl={name}")
    out = mgr.handle("s1", f"INSERT INTO {name} VALUES (2, 'a', 1.0, 'Y')")
    assert out.startswith("DONE:Committed writeid 1"), out
    out = mgr.handle(
        "s1", "etl",
        f"MERGE INTO {name} t USING (SELECT 2L AS k, 5.0D AS price, "
        "'Y' AS sp) s ON t.k = s.k AND t.p = s.sp "
        "WHEN MATCHED THEN UPDATE SET price = s.price",
    )
    assert out.startswith("DONE:Committed writeid 2"), out
    rows = read_hive_acid(
        spark, root, SCHEMA, valid_writeids=led.valid_writeids(root),
        partition_col="p",
    ).collect()
    assert [(r.k, r.price, r.p) for r in rows] == [(2, 5.0, "Y")]


def test_cte_prefixed_dml_is_refused_not_run(spark, tmp_path):
    """DML behind a WITH clause parses to a CTE node over the DML node.
    Its target is read from that child, and the statement is refused:
    inside a block the block stays open, a bare statement on an
    enrolled table ends with ERR_ENDED, and nothing is written."""
    mgr, led, root, name = _enrolled(spark, tmp_path, "flat")
    out = mgr.handle("s1", f"INSERT INTO {name} VALUES (1, 'a', 1.0)")
    assert out.startswith("DONE:Committed writeid 1"), out

    def tree():
        return sorted(
            os.path.relpath(os.path.join(d, f), root)
            for d, _, files in os.walk(root) for f in files + [""]
        )

    before = tree()
    cte = "WITH c AS (SELECT 2L AS k, 'b' AS status, 2.0D AS price) "
    statements = [
        f"{cte}INSERT INTO {name} SELECT * FROM c",
        f"{cte}UPDATE {name} SET price = 9.0 WHERE k IN (SELECT k FROM c)",
        f"{cte}DELETE FROM {name} WHERE k IN (SELECT k FROM c)",
        f"{cte}MERGE INTO {name} t USING c ON t.k = c.k "
        "WHEN MATCHED THEN DELETE",
    ]
    assert mgr.handle("t1", "BEGIN").startswith("ACTIVE:")
    for sql in statements:
        out = mgr.handle("t1", sql)
        assert out.startswith("ERR_ACTIVE:") and "WITH" in out, (sql, out)
    out = mgr.handle("t1", f"DELETE FROM {name} WHERE k = 7")
    assert out == f"ACTIVE:Buffered statement 1 for table '{name}'", out
    assert mgr.handle("t1", "ROLLBACK").startswith("DONE:")
    for sql in statements:
        out = mgr.handle("s1", sql)
        assert out.startswith("ERR_ENDED:") and "WITH" in out, (sql, out)
    assert mgr.handle("s1", f"{cte}INSERT INTO plain_t SELECT * FROM c") == (
        "PASS"
    )
    assert tree() == before
    assert led.entries(root) == {1: "committed"}
    rows = read_hive_acid(
        spark, root, SCHEMA, valid_writeids=led.valid_writeids(root)
    ).collect()
    assert [(r.k, r.status, r.price) for r in rows] == [(1, "a", 1.0)]
