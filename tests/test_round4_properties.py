"""Round-4 property pins — no SparkSession needed (fast tier).

1. The composite_dashboard percentile formula: the rank-arithmetic
   integer percentile (events.py _dash_pct_* — the round-4 fix for
   the one red driver hash) must equal DuckDB's quantile_cont * 100
   on arbitrary BIGINT multisets, exactly. This is the property that
   makes the dashboard hash engine-proof: if the integer formula IS
   quantile_cont, no float interpolation difference can ever split
   the engines again.
2. beeline csv2 parsing (server.parse_beeline_csv2): the silent-mode
   prompt-glued header and quoted cells parse correctly.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from layer_apache_hive_spark.server import parse_beeline_csv2


def _pct_scaled100(vals: list[int], q: int) -> int | None:
    """The exact integer formula both engines run (events.py
    _dash_pct_sql / _dash_pct_spark), replicated literally."""
    if not vals:
        return None
    vs = sorted(vals)
    n = len(vs)
    pos = (n - 1) * q
    idx0, rem = divmod(pos, 100)
    lo = vs[idx0]
    hi = vs[min(idx0 + 1, n - 1)]
    return lo * (100 - rem) + hi * rem


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=-10**12, max_value=10**12), min_size=1,
             max_size=60),
    st.sampled_from([50, 95, 5, 25, 99]),
)
def test_rank_arithmetic_percentile_is_quantile_cont(vals, q):
    got = _pct_scaled100(vals, q)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT UNNEST(?::BIGINT[]) AS v", [vals]
    )
    # quantile_cont interpolates in double; multiplying by 100 and
    # rounding recovers the exact integer *when* the interpolation is
    # exactly representable — which it is for inputs up to ~2^45
    # (lo,hi < 2^45, rem/100 dyadic error < 0.5 after *100 round).
    (qc,) = con.execute(
        f"SELECT round(quantile_cont(v, {q / 100}) * 100) FROM t"
    ).fetchone()
    assert got == int(qc), (sorted(vals), q, got, qc)


def test_rank_arithmetic_percentile_edges():
    assert _pct_scaled100([], 50) is None
    assert _pct_scaled100([7], 50) == 700
    assert _pct_scaled100([7], 95) == 700
    # two elements, p50: midpoint -> 100x scale keeps it integral
    assert _pct_scaled100([0, 1], 50) == 50
    assert _pct_scaled100([10, 20], 95) == 10 * 5 + 20 * 95


def test_parse_beeline_csv2_prompt_glued_header():
    out = (
        "0: jdbc:hive2://localhost:10123> n_nationkey,n_name\n"
        "0,NATION_0\n"
        '1,"NATION,COMMA"\n'
        "\n"
    )
    cols, rows = parse_beeline_csv2(out)
    assert cols == ["n_nationkey", "n_name"]
    assert rows == [["0", "NATION_0"], ["1", "NATION,COMMA"]]


def test_parse_beeline_csv2_empty():
    assert parse_beeline_csv2("") == ([], [])
    assert parse_beeline_csv2("0: jdbc:hive2://h:1> \n") == ([], [])
