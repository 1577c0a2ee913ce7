"""Guards against the two known driver-harness failure modes.

The correctness harness (a) builds its OWN SparkSession, where
PySpark 4 defaults ``spark.sql.ansi.enabled=true``, and (b)
canonicalizes results with a pandas ``sort_values`` over raw cells —
which raises ``TypeError: unhashable type: 'list'`` on any
array/map-typed output column. Both broke round-1 rows
(expr_cast; agg_collect / agg_percentile_approx). These tests make a
regression impossible to miss locally.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType

from layer_apache_hive_spark.registry import _load_all_modules, _REGISTRY
from layer_apache_hive_spark.session import PACKAGE_ROOT
from tests.conftest import SF_DIR

_load_all_modules()
_ALL_IDS = sorted(_REGISTRY)


@pytest.mark.parametrize("qid", _ALL_IDS)
def test_no_list_valued_output_columns(spark, qid):
    """Every registered query must emit only scalar-typed columns
    (the driver's canonicalizer cannot sort list/map cells)."""
    df = _REGISTRY[qid].fn(spark, SF_DIR)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert not bad, (
        f"{qid} emits complex-typed columns {bad}; join/stringify them "
        "(array_join/to_json) or the driver harness will crash on them"
    )


def test_expr_cast_survives_ansi_session(spark):
    """expr_cast must yield Hive null-on-error semantics even when the
    calling session has ANSI on (the driver's default)."""
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = _REGISTRY["expr_cast"].fn(spark, SF_DIR).limit(50).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    assert rows
    # o_orderstatus is 'O'/'F'/'P' — never numeric
    assert all(r["bad_cast_null"] is None for r in rows)
    assert all(r["roundtrip_key"] == r["o_orderkey"] for r in rows)


def test_timestamps_survive_non_utc_session(spark):
    """Timestamp rendering must pin to UTC even when the calling
    session carries a machine-local timezone (a driver harness that
    never set spark.sql.session.timeZone): read_table re-pins it, so
    window boundaries and date_format stay on the DuckDB oracle."""
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = _REGISTRY["evt_tumbling_window"].fn(spark, SF_DIR)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        row = df.orderBy("window_start").first()
        # UTC rendering: bucket strings end on a :00/:05 5-min boundary
        assert row["window_start"][-2:] == "00"
        assert int(row["window_start"][14:16]) % 5 == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


def test_streaming_timestamps_survive_non_utc_session(spark):
    """Same exposure for the streaming path: _stream_source must re-pin
    UTC itself (it bypasses read_table), or evt_stream_tumbling's
    date_format-rendered window_start shifts off the naive-UTC oracle
    under a driver harness inheriting a machine timezone."""
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        batch = {
            (r["window_start"], r["event_type"]): r["n_events"]
            for r in _REGISTRY["evt_tumbling_window"].fn(spark, SF_DIR).collect()
        }
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        stream = {
            (r["window_start"], r["event_type"]): r["n_events"]
            for r in _REGISTRY["evt_stream_tumbling"].fn(spark, SF_DIR).collect()
        }
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert stream == batch and stream
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


def test_vanilla_driver_session_subprocess():
    """Run the historically at-risk ids under a truly driver-identical
    session: vanilla default-conf builder, ANSI left at its PySpark 4
    on-default, hostile non-UTC timezone. The in-process test session
    carries the repo factory's pins, so real isolation needs a fresh
    JVM — scripts/verify_driver_session.py in a subprocess. (Full-
    registry runs of the same script produce the committed
    CORRECTNESS_driver_session.json.)"""
    import subprocess
    import sys

    ids = [
        "expr_cast",
        "evt_tumbling_window",
        "evt_stream_tumbling",
        "evt_watermark_late",
        "ext_text_langid",
        "ext_multimodal_cols",
    ]
    proc = subprocess.run(
        [
            sys.executable,
            "scripts/verify_driver_session.py",
            "--sf-dir",
            SF_DIR,
            *ids,
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=PACKAGE_ROOT,
    )
    assert proc.returncode == 0, (
        f"driver-identical session run failed:\n{proc.stdout[-3000:]}\n"
        f"{proc.stderr[-1500:]}"
    )
    assert "ALL OK" in proc.stdout


def test_verify_jaccard_join_path_matches_broadcast_path(spark, monkeypatch):
    """The distributed join-form verify (the 100 TB path) must produce
    exactly the pairs of the python-broadcast fast path."""
    import layer_apache_hive_spark.extensions.dedup as dd

    fast = {
        (r["doc_a"], r["doc_b"]): (r["shared_shingles"], round(r["jaccard"], 9))
        for r in dd.ext_dedup_near(spark, SF_DIR).collect()
    }
    monkeypatch.setattr(dd, "_BROADCAST_MAX_HASHES", 0)
    slow = {
        (r["doc_a"], r["doc_b"]): (r["shared_shingles"], round(r["jaccard"], 9))
        for r in dd.ext_dedup_near(spark, SF_DIR).collect()
    }
    assert fast == slow and fast


def test_fn_misc_engine_specific_columns_match_independent_references(spark):
    """Round 4 split the misc surface: fn_misc carries the portable
    columns (value-oracled vs DuckDB), fn_misc_rows_only keeps only
    the engine-seeded hashes. This test pins BOTH against INDEPENDENT
    reference implementations — crc32 vs zlib, hex/base64/conv/
    format_number/soundex vs pure-Python reimplementations of their
    documented contracts — so even the oracle-checked columns have a
    second, non-DuckDB witness, and the rows-only hashes have their
    only cross-implementation check."""
    import zlib

    from layer_apache_hive_spark.functions.scalar_groups import (
        fn_misc,
        fn_misc_rows_only,
    )

    hash_rows = {r["c_custkey"]: r for r in fn_misc_rows_only(spark, SF_DIR).collect()}
    rows = fn_misc(spark, SF_DIR).collect()
    assert rows and hash_rows

    def soundex_ref(name: str) -> str:
        codes = {
            **dict.fromkeys("BFPV", "1"), **dict.fromkeys("CGJKQSXZ", "2"),
            **dict.fromkeys("DT", "3"), "L": "4",
            **dict.fromkeys("MN", "5"), "R": "6",
        }
        s = [ch for ch in name.upper() if ch.isalpha()]
        if not s:
            return name
        out, prev = s[0], codes.get(s[0], "")
        for ch in s[1:]:
            code = codes.get(ch, "")
            if code and code != prev:
                out += code
                if len(out) == 4:
                    break
            if ch not in "HW":
                prev = code
        return (out + "000")[:4]

    # the source column values, re-read independently
    src = {
        r["c_custkey"]: (r["c_name"], float(r["c_acctbal"]))
        for r in spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .filter("c_custkey < 500")
        .select("c_custkey", "c_name", "c_acctbal")
        .collect()
    }
    for r in rows:
        name, bal = src[r["c_custkey"]]
        h = hash_rows[r["c_custkey"]]
        # (r9: the vacuous in-row hash_deterministic column is gone —
        # the real cross-context determinism pin lives in
        # tests/test_round9_properties.py)
        assert h["name_crc32"] == zlib.crc32(name.encode())
        assert r["name_soundex"] == soundex_ref(name)
        assert r["key_hex"] == format(r["c_custkey"], "X")
        assert r["name_hexenc"] == name.encode().hex().upper()
        assert r["bal_fmt"] == f"{bal:,.2f}"
        assert r["b64_roundtrip"] == name
        assert r["key_shl2"] == r["c_custkey"] << 2


def test_matview_rebuilds_when_base_table_changes(spark, tmp_path):
    """sink_matview's staleness contract: the materialization must
    rebuild when any base table changes — a stale MV is the regression
    an MV system exists to prevent. Copy the fixture tree, build the
    MV, then swap one base table (drop half the orders) and require
    the served result to reflect the change."""
    import shutil

    from layer_apache_hive_spark.sources.sinks import sink_matview

    src = SF_DIR
    work = str(tmp_path / "sfcopy")
    shutil.copytree(src, work)

    before = {
        (r["n_name"], r["n_orders"]) for r in sink_matview(spark, work).collect()
    }
    assert before

    # change a base table: keep only even order keys
    orders = spark.read.parquet(f"{work}/orders.parquet")
    reduced = orders.filter("o_orderkey % 2 = 0").toPandas()
    import os
    os.remove(f"{work}/orders.parquet")
    reduced.to_parquet(f"{work}/orders.parquet")

    after = {
        (r["n_name"], r["n_orders"]) for r in sink_matview(spark, work).collect()
    }
    assert after != before
    total_before = sum(n for _, n in before)
    total_after = sum(n for _, n in after)
    assert 0 < total_after < total_before


def test_dedup_pipeline_tracks_corpus_changes_within_a_session(spark, tmp_path):
    """The dedup family's session caches and disk index are keyed on
    corpus identity: changing documents.parquet mid-session must
    produce results for the NEW corpus, not stale cached pairs."""
    import shutil

    import pandas as pd

    from layer_apache_hive_spark.extensions.dedup import ext_dedup_near

    work = str(tmp_path / "sfcopy")
    shutil.copytree(SF_DIR, work)

    before = {
        (r["doc_a"], r["doc_b"]) for r in ext_dedup_near(spark, work).collect()
    }
    assert before

    # new corpus: two fresh near-identical docs and nothing else
    text_a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    pd.DataFrame(
        {
            "doc_id": [900001, 900002],
            "text": [text_a, text_a + "iota"],
            "lang": ["en", "en"],
            "source": ["t", "t"],
            "n_chars": [len(text_a), len(text_a) + 4],
        }
    ).to_parquet(f"{work}/documents.parquet")

    after = {
        (r["doc_a"], r["doc_b"]) for r in ext_dedup_near(spark, work).collect()
    }
    assert after == {(900001, 900002)}


def test_compaction_narrows_file_count_losslessly(spark):
    """sink_compaction: the fragmented layout must carry many files,
    the compacted one the size-targeted count (1 at this sf), and the
    rewrite must be lossless (oracle covers values; this pins the
    file-count contract the operator exists for)."""
    import glob
    import os

    from layer_apache_hive_spark.sources.sinks import (
        _sink_dir,
        sink_compaction,
    )

    out = sink_compaction(spark, SF_DIR)
    assert out.count() > 0
    frag = glob.glob(
        os.path.join(_sink_dir(SF_DIR, "fragmented_lineitem"), "*.parquet")
    )
    comp = glob.glob(
        os.path.join(_sink_dir(SF_DIR, "compacted_lineitem"), "*.parquet")
    )
    assert len(frag) == 64
    assert 1 <= len(comp) < len(frag) // 8
