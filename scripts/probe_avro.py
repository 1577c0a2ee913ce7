#!/usr/bin/env python
"""Definitive probe for Avro support (SURVEY §2 out-of-scope record).

``STORED AS AVRO`` is a first-class Hive storage format, but Spark's
Avro reader lives in the external ``spark-avro`` module — a jar this
container does not ship and cannot fetch (no network). This script
probes both directions (write and read) and prints a one-line JSON
verdict, so the out-of-scope declaration in SURVEY.md is backed by a
committed, re-runnable artifact instead of an assertion.

If a future environment ships the jar (e.g. --packages
org.apache.spark:spark-avro_2.13:<spark-version>), this probe flips to
available=true and format("avro") becomes usable directly.

ROUND-3 RESOLUTION: Avro is nonetheless IN SCOPE — Hive's own
AvroSerDe works in a hive-catalog session (avro/avro-mapred jars ship
with PySpark), so `scan_avro` round-trips STORED AS AVRO through the
helper JVM in scripts/build_rcfile_fixture.py. This probe documents
only the datasource-module gap.

Usage: python scripts/probe_avro.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from layer_apache_hive_spark.session import get_spark  # noqa: E402


def main() -> int:
    spark = get_spark(app_name="probe-avro")
    result = {"format": "avro", "available": False, "write_err": None,
              "read_err": None}
    try:
        spark.range(3).write.mode("overwrite").format("avro").save(
            f"{REPO}/.tmp/probe_avro"
        )
        result["available"] = True
    except Exception as e:
        result["write_err"] = f"{type(e).__name__}: {str(e)[:300]}"
    if result["available"]:
        try:
            spark.read.format("avro").load(f"{REPO}/.tmp/probe_avro").count()
        except Exception as e:
            result["available"] = False
            result["read_err"] = f"{type(e).__name__}: {str(e)[:300]}"
    spark.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
