"""In-process DuckDB model of the two acid_wire tables.

The model replays each acknowledged transaction in commit order. Every
statement of a transaction reads the table as it was when the
transaction started and names the rows it retires by their identity in
that snapshot, as the engine's split-update writers do: an UPDATE
retires the old rows and adds new images, a DELETE retires rows, an
INSERT adds rows. For the benchmark's own stream, whose statements in
one transaction touch disjoint keys, this equals applying the
statements one after another.

Reads compare a digest of the model with the digest of the engine's
ledger-elected read at the same point of the stream; a run ends with a
full comparison of both tables.
"""

from __future__ import annotations

import duckdb
import pandas as pd

COLS = "o_orderkey, o_orderstatus, o_totalprice"

# count, key sum, price-in-cents sum, and two mixing sums so a swapped
# price or status between rows changes the digest
DIGEST_SQL = """
SELECT count(*) AS n,
       coalesce(sum(o_orderkey), 0) AS k,
       coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0) AS c,
       coalesce(sum((o_orderkey % 1009)
                    * CAST(round(o_totalprice * 100) AS BIGINT)), 0) AS kc,
       coalesce(sum((o_orderkey % 997) * CASE o_orderstatus
                    WHEN 'F' THEN 1 WHEN 'O' THEN 2 ELSE 3 END), 0) AS ks
FROM {rel}
"""


def digest_sql(rel: str) -> str:
    """The digest query over relation ``rel`` (DuckDB and Spark SQL)."""
    return DIGEST_SQL.format(rel=rel)


class AcidModel:
    """Expected contents of ``flat`` and ``part`` after each commit.

    Ops are duck-typed: ``kind``, ``table``, ``where`` (SQL predicate
    over the orders columns), ``delta`` and ``shift``."""

    def __init__(self, orders_parquet: str, n_keys: int):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE src AS SELECT {COLS} FROM read_parquet(?)",
            [orders_parquet],
        )
        for t in ("flat", "part"):
            self.con.execute(
                f"CREATE TABLE {t} AS SELECT * FROM src "
                f"WHERE o_orderkey < {n_keys}"
            )

    def close(self) -> None:
        self.con.close()

    def commit(self, ops) -> dict[str, int]:
        """Apply one transaction; return the rows it changed per table."""
        changed: dict[str, int] = {}
        for table in dict.fromkeys(op.table for op in ops):
            mine = [op for op in ops if op.table == table]
            changed[table] = self._commit_table(table, mine)
        return changed

    def _commit_table(self, t: str, ops) -> int:
        sql = self.con.execute
        sql(f"CREATE TEMP TABLE snap AS SELECT row_number() OVER () AS rid, "
            f"{COLS} FROM {t}")
        sql("CREATE TEMP TABLE gone (rid BIGINT)")
        sql(f"CREATE TEMP TABLE added AS SELECT {COLS} FROM {t} LIMIT 0")
        n = 0
        for op in ops:
            if op.kind in ("update", "delete"):
                n += sql(f"INSERT INTO gone SELECT rid FROM snap "
                         f"WHERE {op.where}").fetchone()[0]
            if op.kind == "update":
                sql(f"INSERT INTO added SELECT o_orderkey, o_orderstatus, "
                    f"o_totalprice + {op.delta} FROM snap WHERE {op.where}")
            elif op.kind == "insert":
                n += sql(f"INSERT INTO added SELECT o_orderkey + {op.shift}, "
                         f"o_orderstatus, o_totalprice FROM src "
                         f"WHERE {op.where}").fetchone()[0]
            elif op.kind == "merge":
                n += self._merge(op)
            elif op.kind != "delete":
                raise ValueError(f"not a DML op: {op.kind}")
        sql(f"DELETE FROM {t}")
        sql(f"INSERT INTO {t} SELECT {COLS} FROM snap "
            f"WHERE rid NOT IN (SELECT rid FROM gone) "
            f"UNION ALL SELECT * FROM added")
        sql("DROP TABLE snap; DROP TABLE gone; DROP TABLE added")
        return n

    def _merge(self, op) -> int:
        # source: the slot's rows, odd keys shifted so they do not match
        self.con.execute(
            f"CREATE TEMP TABLE msrc AS SELECT CASE WHEN o_orderkey % 2 = 0 "
            f"THEN o_orderkey ELSE o_orderkey + {op.shift} END AS o_orderkey, "
            f"o_orderstatus, o_totalprice FROM src WHERE {op.where}"
        )
        sql = self.con.execute
        n = sql("INSERT INTO gone SELECT rid FROM snap WHERE o_orderkey IN "
                "(SELECT o_orderkey FROM msrc)").fetchone()[0]
        sql(f"INSERT INTO added SELECT o_orderkey, o_orderstatus, "
            f"o_totalprice + {op.delta} FROM snap WHERE o_orderkey IN "
            f"(SELECT o_orderkey FROM msrc)")
        n += sql("INSERT INTO added SELECT * FROM msrc WHERE o_orderkey "
                 "NOT IN (SELECT o_orderkey FROM snap)").fetchone()[0]
        sql("DROP TABLE msrc")
        return n

    def digest(self, table: str) -> tuple[int, ...]:
        return tuple(
            int(v) for v in self.con.execute(digest_sql(table)).fetchone()
        )

    def frame(self, table: str) -> pd.DataFrame:
        return self.con.execute(f"SELECT {COLS} FROM {table}").df()

    def write_parquet(self, table: str, path: str) -> None:
        """The table's rows written once as parquet (space_amp's base)."""
        self.con.execute(
            f"COPY (SELECT * FROM {table}) TO '{path}' (FORMAT parquet)"
        )
