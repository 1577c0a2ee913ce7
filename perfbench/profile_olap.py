"""Profile every read-only operator id once, for choosing olap_read's ids.

    python3 perfbench/profile_olap.py

Runs each of ``registry_ops.candidates`` (the read-only ids of
``operators.{aggregates,composite,joins,windows}``) over the sf0.1 test
data under the benchmark's own environment: one untimed warm-up pass,
then passes in a fixed order that alternate untraced and traced. Per id
it records the median untraced wall and, from the traced passes, the
mean Spark jobs, stages, tasks, shuffle bytes and Catalyst plan time.
Writes ``olap_profile.json`` beside this file; ``registry_ops.choose``
turns that file into the workload's ids.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
from pathlib import Path
from types import SimpleNamespace

import registry_ops as ro
from run import ROOT, Ctx, machine_env, mem_gb, stop_spark

OUT = Path(__file__).resolve().parent / "olap_profile.json"
PASSES = 4  # measured passes, half of them traced


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from layer_apache_hive_spark.catalog import DEFAULT_SF_DIR
    from layer_apache_hive_spark.registry import all_queries

    work = ROOT / ".bench_work" / f"profile-{os.getpid()}"
    env = machine_env(work)
    os.environ.update(env)
    cores = int(env["SPARK_GRAFT_CPUS"])
    ctx = Ctx(SimpleNamespace(seed=0, seconds=0, trace=0), work,
              DEFAULT_SF_DIR, cores)
    try:
        spark = ctx.setup(lambda s: ctx.warm_tables(s, ro.OLAP_TABLES))
        queries = all_queries()
        ids = ro.candidates(queries)
        tracer = ctx.tracer(spark)
        warm: list[dict] = []
        ro.run_pass(spark, DEFAULT_SF_DIR, tracer, queries, ids, warm)
        samples: list[dict] = []
        order = list(ids)
        random.Random(0).shuffle(order)
        for i in range(PASSES):
            tracer.enabled = i % 2 == 1
            ro.run_pass(spark, DEFAULT_SF_DIR, tracer, queries, order,
                        samples)
    finally:
        stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    profile = {}
    for qid in ids:
        mine = [s for s in samples if s["id"] == qid]
        plain = [s["wall"] for s in mine if not s.get("traced")]
        sp = [s["spark"] for s in mine if s.get("traced")]
        row = {"layer": mine[0]["layer"],
               "ok": all(s["ok"] for s in mine),
               "wall_s": round(statistics.median(plain), 4)}
        for k in ("jobs", "stages", "tasks", "shuffle_bytes", "plan_s"):
            row[k] = round(statistics.mean(s[k] for s in sp), 4) if sp else 0
        profile[qid] = row
    OUT.write_text(json.dumps({
        "machine": {"cores": cores, "mem_gb": round(mem_gb(), 1),
                    "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]},
        "passes": PASSES,
        "ids": profile,
    }, indent=1) + "\n")
    print("olap_read ids:", ", ".join(ro.choose(profile)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
