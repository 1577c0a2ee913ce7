#!/usr/bin/env python
"""Definitive probe for a transactional table format (Delta/Iceberg).

Hive 2/3 ACID tables (`UPDATE`/`DELETE`/`MERGE` on ORC with snapshot
isolation `[upstream: deployed Hive ql/txn/*]`) map Spark-first to
Delta Lake or Apache Iceberg. Neither ships inside the PySpark
distribution — both are external jars (`io.delta:delta-spark`,
`org.apache.iceberg:iceberg-spark-runtime`). This probe records
definitively whether this sandbox can load either one:

1. Python packages (`delta`, `pyiceberg`) importable?
2. Jars present anywhere plausible on disk?
3. Can Spark resolve `spark.jars.packages` (needs network/Ivy cache)?
4. Does `format("delta")` / an Iceberg catalog actually work?

While the answer is no, sinks.py's copy-on-write rewrites
(sink_update/:288, sink_delete/:340, sink_merge/:132) remain the
value-correct stand-in, with the no-concurrent-writer caveat
documented. If a future environment flips this probe, re-back those
sinks with real snapshot commits + a concurrent-writer test.

Usage: python scripts/probe_acid.py   # writes PROBE_acid.json
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    result: dict = {"formats": ["delta", "iceberg"]}

    for mod in ("delta", "pyiceberg"):
        try:
            importlib.import_module(mod)
            result[f"pymodule_{mod}"] = True
        except ImportError as e:
            result[f"pymodule_{mod}"] = False
            result[f"pymodule_{mod}_err"] = str(e)[:200]

    import pyspark

    jar_dirs = [
        os.path.join(os.path.dirname(pyspark.__file__), "jars"),
        os.path.expanduser("~/.ivy2/jars"),
        os.path.expanduser("~/.ivy2.5.2/jars"),
        "/opt/spark/jars",
    ]
    found = []
    for d in jar_dirs:
        for pat in ("*delta*", "*iceberg*"):
            found += glob.glob(os.path.join(d, pat))
    result["jars_on_disk"] = found

    # Ivy resolution needs network; prove it one way or the other with
    # a tiny artifact and a bounded wait (SparkSession build blocks on
    # resolution, so run it in a throwaway subprocess with a timeout).
    import subprocess

    probe_src = (
        "from pyspark.sql import SparkSession\n"
        "s = (SparkSession.builder.master('local[1]')"
        ".config('spark.jars.packages', 'io.delta:delta-spark_2.13:4.0.0')"
        ".config('spark.sql.extensions',"
        " 'io.delta.sql.DeltaSparkSessionExtension')"
        ".config('spark.sql.catalog.spark_catalog',"
        " 'org.apache.spark.sql.delta.catalog.DeltaCatalog')"
        ".config('spark.ui.enabled', 'false').getOrCreate())\n"
        "s.range(3).write.format('delta').mode('overwrite')"
        f".save('{REPO}/.tmp/probe_delta')\n"
        "print('DELTA_WRITE_OK')\n"
    )
    try:
        proc = subprocess.run(
            [sys.executable, "-c", probe_src],
            capture_output=True,
            text=True,
            timeout=180,
        )
        result["ivy_resolution_rc"] = proc.returncode
        result["delta_write_ok"] = "DELTA_WRITE_OK" in proc.stdout
        if proc.returncode != 0:
            tail = (proc.stderr or proc.stdout).strip().splitlines()
            result["ivy_resolution_err"] = " | ".join(tail[-3:])[:500]
    except subprocess.TimeoutExpired:
        result["ivy_resolution_rc"] = None
        result["delta_write_ok"] = False
        result["ivy_resolution_err"] = "timeout after 180s (no network route)"

    result["available"] = bool(result.get("delta_write_ok") or found)
    result["resolution"] = (
        "transactional formats usable — re-back sink_update/delete/merge "
        "with snapshot commits"
        if result["available"]
        else (
            "no Delta/Iceberg jars, python modules, or Ivy network access "
            "in this sandbox; sink_update/sink_delete/sink_merge remain "
            "value-oracled copy-on-write parquet rewrites (single-writer), "
            "per VERDICT r3 item 5"
        )
    )

    with open(f"{REPO}/PROBE_acid.json", "w") as f:
        json.dump(result, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
