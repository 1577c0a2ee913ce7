#!/usr/bin/env python
"""Oracle parity under a DRIVER-IDENTICAL SparkSession.

The repo's session factory (layer_apache_hive_spark/session.py) pins
Hive-parity confs: ANSI off, UTC timezone, nanosAsLong, AQE, Arrow.
A driver harness builds its OWN session, where none of those pins
exist — PySpark 4 defaults ``spark.sql.ansi.enabled=true`` and the
machine timezone leaks into timestamp rendering. Every query must
therefore self-pin at read time (catalog.read_table for batch,
streaming.events._pin_stream_confs for streams).

This script proves that end-to-end: it builds a VANILLA default-conf
session — no repo factory, ANSI left at its on-default, plus an
explicitly hostile non-UTC session timezone standing in for a non-UTC
machine — and runs every registered query against its DuckDB oracle
with the same compare semantics as the driver. Full runs write
CORRECTNESS_driver_session.json next to CORRECTNESS_local.json.

Usage:
    python scripts/verify_driver_session.py [--sf-dir DIR] [ids...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import duckdb
from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from layer_apache_hive_spark.catalog import TABLES, table_path  # noqa: E402
from layer_apache_hive_spark.oracle_compare import compare_frames  # noqa: E402


def vanilla_session() -> SparkSession:
    """The session a driver harness would build: master + app name and
    nothing else, then a hostile machine timezone. ANSI stays at the
    PySpark 4 on-default; none of the repo factory's pins are set.

    With SPARK_GRAFT_HOSTILE_PLANNER=1 the session additionally turns
    AQE OFF and sets a prime shuffle-partition count — flushing out
    any query whose CORRECTNESS silently depends on adaptive
    re-planning or a particular partition count (results must be
    partition-layout invariant; only plans may change)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName("driver-session-mimic")
        .master(f"local[{cpus}]")
    )
    if os.environ.get("SPARK_GRAFT_HOSTILE_PLANNER"):
        builder = builder.config(
            "spark.sql.adaptive.enabled", "false"
        ).config("spark.sql.shuffle.partitions", "7")
    spark = builder.getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--json-out", default=f"{REPO}/CORRECTNESS_driver_session.json"
    )
    ap.add_argument("ids", nargs="*")
    args = ap.parse_args()

    spark = vanilla_session()
    assert spark.conf.get("spark.sql.ansi.enabled") == "true", (
        "expected the PySpark 4 ANSI on-default; a repo-factory session "
        "leaked into this process"
    )

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(args.sf_dir, name)}')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    ids = args.ids or sorted(qs)
    failures: list[str] = []
    records: dict[str, dict] = {}
    for qid in ids:
        t0 = time.perf_counter()
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        records[qid] = rec
        # Re-hostile the timezone before every query: a query that
        # pins UTC must not shelter the next one from the exposure.
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            got = qs[qid](spark, args.sf_dir)
            if qid not in oracles:
                rec["spark_rows"] = got.count()
                rec["err"] = "no_oracle"
                print(f"  {qid}: rows-only, rows={rec['spark_rows']} "
                      f"({time.perf_counter() - t0:.1f}s)")
                continue
            gpdf = got.toPandas()
            opdf = con.execute(oracles[qid]).df()
            rec["spark_rows"], rec["oracle_rows"] = len(gpdf), len(opdf)
            problems = compare_frames(gpdf, opdf)
            rec["rows_match"] = len(gpdf) == len(opdf)
            rec["schema_match"] = sorted(gpdf.columns) == sorted(opdf.columns)
            rec["hash_match"] = not problems
            if problems:
                failures.append(f"{qid}: " + "; ".join(problems)[:300])
                print(f"  {qid}: MISMATCH — {'; '.join(problems)[:300]}")
            else:
                print(f"  {qid}: ok ({time.perf_counter() - t0:.1f}s)")
        except Exception:
            rec["err"] = traceback.format_exc(limit=1).splitlines()[-1][:200]
            failures.append(f"{qid}: exception")
            print(f"  {qid}: EXCEPTION\n{traceback.format_exc()}")

    spark.stop()
    if args.json_out and not args.ids:
        with open(args.json_out, "w") as fh:
            json.dump(records, fh, indent=2, sort_keys=True)
            fh.write("\n")
        print(f"wrote {args.json_out} ({len(records)} rows)")
    print(f"\n{len(ids) - len(failures)}/{len(ids)} checks ok")
    if failures:
        print("FAILURES:\n  " + "\n  ".join(failures))
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
