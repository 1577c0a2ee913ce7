"""The acid_wire statement stream, a pure function of the seed.

A run is a warm-up round followed by rounds of one fixed composition,
so the op mix and the expected failure rate do not depend on the seed:

* one autocommit INSERT, UPDATE, DELETE and MERGE, alternating
  between the tables by verb and swapping every round;
* one BEGIN ... COMMIT block of 2-4 statements (the length cycles
  2, 3, 4 with the round number);
* one interleaved two-session pair: both sessions BEGIN, both buffer
  an UPDATE of the same table (the same large partition on the
  partitioned table; the table alternates by round), session ``a``
  commits first, so session ``b``'s COMMIT loses first-committer-wins;
* a snapshot read of each table, closing the round.

The units run in this order in every round. The seed picks which of
the two large partitions the pair fights over and every statement's
key range and constants. It leaves the verbs, their order and the
number of delta directories a round writes per table alone, so the
initiator's folds fall at the same units for every seed (up to which
partitions a key slot's rows sit in).

Every statement touches its own 64-key slot of ``o_orderkey`` (the
keys of sf0.1 ``orders`` are dense from 0), and a slot is used once
per run. Statements in one BEGIN block therefore touch disjoint keys,
which keeps the replay model valid whether or not a transaction reads
its own writes. INSERTs copy a slot's rows under keys shifted past
every original key; MERGE sources shift their odd keys the same way.
"""

from __future__ import annotations

import itertools
import random
from collections.abc import Iterator
from dataclasses import dataclass

N_KEYS = 150_000
SLOT = 64
FLAT = "bench_flat"
PART = "bench_part"
SRC = "bench_orders_src"
TABLES = {"flat": FLAT, "part": PART}
STATUSES = ("F", "O", "P")
# the pair fights over one of the two large partitions; "P" holds about
# 2 % of the rows, so a pair there would make the seed change the work
PAIR_STATUSES = ("F", "O")
DELTAS = (0.5, 1.0, 1.5, 2.0, 2.5)
SHIFT = 1_000_000


@dataclass(frozen=True)
class Op:
    """One client step: a statement for ``TxnSessionManager.handle`` or
    a snapshot read (``kind == "read"``, no SQL)."""

    kind: str  # begin | commit | insert | update | delete | merge | read
    session: str  # "a" or "b"
    table: str = ""  # "flat" | "part"
    lo: int = 0
    hi: int = 0
    status: str | None = None  # partition filter (the pair's UPDATEs)
    delta: float = 0.0
    shift: int = 0

    @property
    def where(self) -> str:
        """The statement's row predicate over the orders columns."""
        pred = f"o_orderkey BETWEEN {self.lo} AND {self.hi}"
        if self.status is not None:
            pred += f" AND o_orderstatus = '{self.status}'"
        return pred

    def sql(self) -> str:
        t = TABLES.get(self.table, "")
        where = self.where
        if self.kind == "begin":
            return "BEGIN"
        if self.kind == "commit":
            return "COMMIT"
        if self.kind == "insert":
            cols = (
                "o_orderstatus, o_totalprice"
                if self.table == "flat"
                else "o_totalprice, o_orderstatus"
            )
            return (
                f"INSERT INTO {t} SELECT o_orderkey + {self.shift} AS "
                f"o_orderkey, {cols} FROM {SRC} WHERE {where}"
            )
        if self.kind == "update":
            return (
                f"UPDATE {t} SET o_totalprice = o_totalprice + "
                f"{self.delta} WHERE {where}"
            )
        if self.kind == "delete":
            return f"DELETE FROM {t} WHERE {where}"
        if self.kind == "merge":
            # even keys match (UPDATE), odd keys arrive shifted (INSERT)
            values = (
                "s.o_orderkey, s.o_orderstatus, s.o_totalprice"
                if self.table == "flat"
                else "s.o_orderkey, s.o_totalprice, s.o_orderstatus"
            )
            return (
                f"MERGE INTO {t} t USING (SELECT CASE WHEN o_orderkey % 2 = 0 "
                f"THEN o_orderkey ELSE o_orderkey + {self.shift} END AS "
                f"o_orderkey, o_orderstatus, o_totalprice FROM {SRC} "
                f"WHERE {where}) s ON t.o_orderkey = s.o_orderkey "
                f"WHEN MATCHED THEN UPDATE SET o_totalprice = "
                f"t.o_totalprice + {self.delta} "
                f"WHEN NOT MATCHED THEN INSERT VALUES ({values})"
            )
        raise ValueError(f"{self.kind} has no statement text")


def rounds(seed: int, n_keys: int = N_KEYS) -> Iterator[list[list[Op]]]:
    """Yield round 0, 1, 2, ... for ``seed`` over tables holding the
    orders with ``o_orderkey < n_keys``. A round is a list of units; a
    unit is one autocommit statement, one BEGIN ... COMMIT block, one
    interleaved pair, or one read. Round 0 is the untimed warm-up: an
    UPDATE and a read of each table."""
    rng = random.Random(seed)
    slots = list(range(n_keys // SLOT))
    rng.shuffle(slots)
    free = iter(slots)
    shifts = itertools.count(1)

    def op(kind: str, session: str, table: str, status=None) -> Op:
        s = next(free)
        return Op(
            kind,
            session,
            table,
            lo=s * SLOT,
            hi=s * SLOT + SLOT - 1,
            status=status,
            delta=rng.choice(DELTAS),
            shift=SHIFT * next(shifts) if kind in ("insert", "merge") else 0,
        )

    reads = [[Op("read", "a", t)] for t in TABLES]
    yield [[op("update", "a", t)] for t in TABLES] + reads
    for r in itertools.count(1):
        # each verb runs once per round; the tables alternate by verb and
        # swap every round, so two rounds cover every verb on both
        tables = ("flat", "part") if r % 2 else ("part", "flat")
        units: list[list[Op]] = [
            [op(kind, "a", t)]
            for kind, t in zip(("insert", "update", "delete", "merge"),
                               tables * 2)
        ]
        block = [
            op(("update", "insert", "delete")[i % 3], "a", tables[i % 2])
            for i in range(2 + r % 3)
        ]
        units.append([Op("begin", "a"), *block, Op("commit", "a")])
        table = tables[0]
        status = rng.choice(PAIR_STATUSES) if table == "part" else None
        # same table, same partition: the second committer must lose
        first = op("update", "a", table, status)
        second = op("update", "b", table, status)
        units.append([
            Op("begin", "a"),
            Op("begin", "b"),
            first,
            second,
            Op("commit", "a"),
            Op("commit", "b"),
        ])
        # units keep this order, so the initiator passes after each
        # writing unit fold at the same units for every seed; reads
        # close the round, so the last round's reads see the final
        # state of both tables
        yield units + reads
