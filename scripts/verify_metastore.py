#!/usr/bin/env python
"""Metastore-resolution verify: run a representative registry slice
with every corpus table resolved BY NAME through the durable Hive
catalog (hive_session + provision_corpus + SPARK_GRAFT_USE_METASTORE)
and assert the SAME value hashes as the temp-view/direct-path mode.

Closes the seam the round-4 verdict called out: the metastore existed
and was durability-tested, but nothing proved the OPERATOR INVENTORY
is semantics-identical when `read_table` resolves `corpus_<sf>.<name>`
via the Hive catalog instead of a direct parquet path.

Must run as its own process (the Hive catalog implementation is frozen
at SparkContext construction), so this script re-execs itself into a
child with SPARK_GRAFT_USE_METASTORE=1 unless already set. The slice:
every §2.1 scan/sink id plus 5 composite (TPC-H) shapes — the
catalog-sensitive surface (scans resolve tables; sinks CTAS/write
through the session catalog) plus joins/aggregates deep enough to
catch a schema or statistics drift.

Writes CORRECTNESS_metastore.json in the driver row format. Exit 0
iff all rows green. Usage:
    python scripts/verify_metastore.py [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SLICE = [
    # §2.1 scans/sources/sinks — the directly catalog-facing surface
    "sample_rows",
    "scan_avro",
    "scan_csv_permissive",
    "scan_jdbc",
    "scan_json",
    "scan_orc",
    "scan_parquet",
    "scan_parquet_evolution",
    "scan_partition_prune",
    "scan_rcfile",
    "scan_sequencefile",
    "scan_text_csv",
    "sink_compaction",
    "sink_ctas",
    "sink_dynamic_partition",
    "sink_insert_overwrite",
    "sink_merge",
    "sink_multi_insert",
    "sink_zorder",
    # 5 composite shapes — joins + aggregates resolved via catalog
    "composite_shipping_priority",
    "composite_local_supplier_volume",
    "composite_order_priority",
    "composite_market_share",
    "composite_top_supplier",
    # round-6 families through the catalog: the ACID/versioned-table
    # surface creates and reads its own state under a catalog-backed
    # session; CEP/window/mode + chunking/sampling prove the window,
    # lateral-explode, and md5-selection kernels see the same bytes
    # when the corpus resolves BY NAME
    "sink_time_travel",
    "ddl_analyze_stats",
    "agg_mode",
    "evt_cep_pattern",
    "evt_windowed_topk",
    "ext_rag_chunk",
    "ext_sample_importance",
    "scan_xml",
    "ext_bpe_merge_step",
    # round-7 additions: the substring-dedup anchor join and the
    # entropy gate read documents BY NAME through the catalog
    "ext_dedup_substring",
    "ext_text_entropy",
    # round-13 (verdict task 7): the wire-DML statement surface under
    # a Derby-catalog session — INSERT/UPDATE/DELETE and MERGE routed
    # through TxnSessionManager.handle with the source orders table
    # resolved BY NAME through the Hive catalog (read_table under
    # SPARK_GRAFT_USE_METASTORE), proving the transactional verbs see
    # the same bytes under catalog resolution
    "sink_hive_acid_wire_dml",
    "sink_hive_acid_wire_merge",
]


def child_main() -> int:
    import duckdb

    from layer_apache_hive_spark.catalog import TABLES, table_path
    from layer_apache_hive_spark.metastore import hive_session, provision_corpus
    from layer_apache_hive_spark.oracle_compare import compare_frames
    from layer_apache_hive_spark.registry import _REGISTRY, _load_all_modules

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--metastore-dir", required=True)
    ap.add_argument("--json-out", default=f"{REPO}/CORRECTNESS_metastore.json")
    args = ap.parse_args()

    spark = hive_session(
        app_name="verify-metastore",
        metastore_dir=args.metastore_dir,
        warehouse_dir=os.path.join(args.metastore_dir, "warehouse"),
    )
    db = provision_corpus(spark, args.sf_dir, metastore_dir=args.metastore_dir)
    print(f"provisioned {db} from {args.sf_dir}")

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(args.sf_dir, name)}')"
        )

    _load_all_modules()
    results: dict[str, dict] = {}
    failures: list[str] = []
    for qid in SLICE:
        q = _REGISTRY[qid]
        row = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        t0 = time.perf_counter()
        try:
            got = q.fn(spark, args.sf_dir).toPandas()
            want = con.execute(q.oracle).df()
            row["spark_rows"], row["oracle_rows"] = len(got), len(want)
            problems = compare_frames(got, want)
            row["rows_match"] = len(got) == len(want)
            row["schema_match"] = sorted(got.columns) == sorted(want.columns)
            row["hash_match"] = not problems
            if problems:
                failures.append(f"{qid}: {'; '.join(problems)[:300]}")
        except Exception as err:  # noqa: BLE001
            row["err"] = f"{type(err).__name__}: {err}"[:500]
            failures.append(f"{qid}: {row['err']}")
            traceback.print_exc()
        status = "ok" if row["hash_match"] else "FAIL"
        print(f"  {qid}: {status} ({time.perf_counter() - t0:.1f}s)")
        results[qid] = row

    with open(args.json_out, "w") as fh:
        json.dump(results, fh, indent=2, sort_keys=True)
        fh.write("\n")
    n_ok = sum(1 for r in results.values() if r["hash_match"])
    print(f"{n_ok}/{len(results)} metastore-resolved checks ok")
    if failures:
        print("FAILURES:")
        for f in failures:
            print(f"  {f}")
    spark.stop()
    return 1 if failures else 0


def main() -> int:
    if os.environ.get("SPARK_GRAFT_USE_METASTORE") == "1":
        return child_main()
    # parent: hermetic metastore per run, fresh JVM via re-exec
    with tempfile.TemporaryDirectory() as tmp:
        env = dict(os.environ, SPARK_GRAFT_USE_METASTORE="1")
        proc = subprocess.run(
            [sys.executable, __file__, *sys.argv[1:], "--metastore-dir", tmp],
            env=env,
            cwd=REPO,
        )
        return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
