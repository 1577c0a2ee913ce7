"""The replay model reproduces the engine's registered wire-DML oracle."""

import os
from dataclasses import dataclass

import duckdb
import pytest

from acid_model import AcidModel

from layer_apache_hive_spark.catalog import DEFAULT_SF_DIR

# the oracle sweeps' scale, beside the benchmark's sf0.1
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")


@dataclass
class Stmt:
    kind: str
    where: str
    delta: float = 0.0
    shift: int = 0
    table: str = "flat"


@pytest.fixture
def orders():
    path = f"{SF}/orders.parquet"
    if not os.path.isfile(path):
        pytest.skip(f"no test data at {path}")
    return path


def test_model_reproduces_sink_hive_acid_wire_dml_oracle(orders):
    from layer_apache_hive_spark.oracle_compare import compare_frames
    from layer_apache_hive_spark.registry import all_oracles

    model = AcidModel(orders, n_keys=0)
    # the registered id's statement flow: two autocommit INSERTs, then
    # one BEGIN block whose DELETE names pre-transaction identities
    model.commit([Stmt("insert", "o_orderkey % 3 = 0")])
    model.commit([Stmt("insert", "o_orderkey % 3 = 1 AND o_orderkey % 7 = 0")])
    changed = model.commit([
        Stmt("update", "o_orderkey % 3 = 0 AND o_orderkey % 7 = 3", delta=1.0),
        Stmt("delete", "o_orderkey % 5 = 0"),
    ])
    assert changed["flat"] > 0

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders}')")
    want = con.execute(all_oracles()["sink_hive_acid_wire_dml"]).df()
    got = model.frame("flat")
    assert len(got) > 0
    assert compare_frames(got, want) == []
    model.close()


def test_disjoint_block_equals_sequential_statements(orders):
    block = [
        Stmt("update", "o_orderkey BETWEEN 0 AND 63", delta=0.5),
        Stmt("delete", "o_orderkey BETWEEN 64 AND 127"),
        Stmt("insert", "o_orderkey BETWEEN 128 AND 191", shift=1_000_000),
    ]
    together, one_by_one = AcidModel(orders, 1000), AcidModel(orders, 1000)
    together.commit(block)
    for s in block:
        one_by_one.commit([s])
    assert together.digest("flat") == one_by_one.digest("flat")
    assert together.digest("flat") != together.digest("part")
