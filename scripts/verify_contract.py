#!/usr/bin/env python
"""Driver-mimic: exercise __spark_entry__.py exactly as the harness does.

1. smoke: entry(spark) at sf0.001 → rows > 0
2. correctness: each queries()[id] at sf0.01 vs oracle_sql()[id] in
   DuckDB — row-count + column names + order-insensitive value match
   (columns sorted by name, rows sorted, exact compare).
3. no-oracle queries: run, report row count only.

Full-registry runs also write CORRECTNESS_local.json in the driver's
exact row format ({rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err} per query id), so every registered query has a
committed row-by-row record even though the driver harness samples
only an alphabetical prefix per round. Subset runs (explicit ids) skip
the write so iteration can't clobber the full record.

Exit 0 iff everything matches. Usage:
    python scripts/verify_contract.py [--sf-dir /root/testdata/sf0.01] [ids...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from layer_apache_hive_spark.catalog import TABLES, table_path  # noqa: E402
from layer_apache_hive_spark.oracle_compare import compare_frames  # noqa: E402
from layer_apache_hive_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--skip-smoke", action="store_true")
    ap.add_argument("--json-out", default=f"{REPO}/CORRECTNESS_local.json")
    ap.add_argument("ids", nargs="*")
    args = ap.parse_args()

    spark = get_spark(app_name="verify-contract")
    failures: list[str] = []

    if not args.skip_smoke:
        t0 = time.perf_counter()
        n = entrymod.entry(spark).count()
        print(f"smoke: entry() rows={n} ({time.perf_counter() - t0:.1f}s)")
        if n <= 0:
            failures.append("smoke: entry() returned 0 rows")

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(args.sf_dir, name)}')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    ids = args.ids or sorted(qs)
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
            # A 0x0 "match" verifies nothing — an unconditionally
            # empty frame with the right schema would pass. Flag it
            # as its own failure class so no oracle row can go green
            # without comparing at least one real value (round-5
            # verdict #2).
            if not problems and len(gpdf) == 0:
                problems = ["vacuous: 0 rows on both engines"]
                rec["vacuous"] = True
            joined = "; ".join(problems)
            rec["rows_match"] = len(gpdf) == len(opdf)
            rec["schema_match"] = sorted(gpdf.columns) == sorted(opdf.columns)
            rec["hash_match"] = not problems
            if problems:
                failures.append(f"{qid}: " + joined[:300])
                print(f"  {qid}: MISMATCH — {joined[:300]}")
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
