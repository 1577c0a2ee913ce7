#!/usr/bin/env python
"""Empty-corpus totality sweep: every registered query must execute
cleanly over 0-row tables.

Empty inputs are not an edge case at scale — they are Tuesday: a
partition with no files after pruning, a day with no events, a
source with no docs after a quality gate. A plan that NPEs or
ZeroDivisions on empty input fails in production in exactly the spot
a 100 TB run is hardest to debug.

The sweep materializes a schema-faithful 0-row twin of every fixture
table (schemas read from sf0.001, then LIMIT 0), runs every
registered query against it, and reports any exception. Queries are
expected to return 0 rows, or the global-aggregate 1 row of
NULL/0s — both fine; only raising is a failure.

Usage:
    python scripts/edge_empty.py [ids...]
"""

from __future__ import annotations

import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from layer_apache_hive_spark.catalog import TABLES  # noqa: E402
from layer_apache_hive_spark.registry import all_queries  # noqa: E402
from layer_apache_hive_spark.session import get_spark  # noqa: E402

EMPTY_DIR = f"{REPO}/.tmp/empty_sf"
SRC_DIR = "/root/testdata/sf0.001"


def build_empty(spark) -> None:
    """0-row single-FILE parquet per table (the fixtures are single
    files, and e.g. the stream source copies them as files), with the
    source's exact arrow schema — including the ns-timestamp physical
    type the catalog's normalization path is tested against."""
    import pyarrow.parquet as pq

    os.makedirs(EMPTY_DIR, exist_ok=True)
    for t in TABLES:
        dst = f"{EMPTY_DIR}/{t}.parquet"
        if os.path.exists(dst):
            continue
        src = pq.read_table(f"{SRC_DIR}/{t}.parquet")
        pq.write_table(src.slice(0, 0), dst)


def main() -> int:
    spark = get_spark()
    build_empty(spark)
    qs = all_queries()
    ids = sys.argv[1:] or sorted(qs)
    failures = {}
    for qid in ids:
        try:
            df = qs[qid](spark, EMPTY_DIR)
            n = df.count()
            print(f"  {qid}: ok ({n} rows)", flush=True)
        except Exception as e:
            failures[qid] = f"{type(e).__name__}: {str(e)[:200]}"
            print(f"  {qid}: FAIL {failures[qid]}", flush=True)
            traceback.print_exc(limit=3)
    print(f"\n{len(ids) - len(failures)}/{len(ids)} total on empty corpus")
    if failures:
        print("FAILURES:")
        for qid, err in failures.items():
            print(f"  {qid}: {err}")
    if not sys.argv[1:]:  # full runs record the committed artifact
        import json

        with open(f"{REPO}/EMPTYCHECK.json", "w") as fh:
            json.dump(
                {
                    "total": len(ids),
                    "ok": len(ids) - len(failures),
                    "failures": failures,
                    # per-id coverage record: lets the artifact gate
                    # (tests/test_artifacts.py) detect a sweep that
                    # predates the newest registry entries instead of
                    # trusting the totals
                    "ids": sorted(ids),
                },
                fh,
                indent=1,
            )
        print(f"wrote {REPO}/EMPTYCHECK.json")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
