#!/usr/bin/env python
"""Per-statement Spark JOB profile of an ACID wire query (guide §1:
measure first; job counts are deterministic on this VM where walls are
not — the r13/r14 measurement discipline).

Wraps TxnSessionManager.handle so every wire statement reports the
Spark jobs it triggered (AppStatusStore job list deltas, with per-job
descriptions), then runs the registered query function and prints the
final-read job count too.

Usage: python scripts/profile_jobs.py <query_id> [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"


def main() -> None:
    qid = sys.argv[1]
    from layer_apache_hive_spark import txn as txn_mod
    from layer_apache_hive_spark.registry import all_queries
    from layer_apache_hive_spark.session import get_spark

    spark = get_spark(app_name=f"profile-{qid}")
    store = spark.sparkContext._jsc.sc().statusStore()

    def jobs_now():
        it = store.jobsList(None).iterator()
        out = []
        while it.hasNext():
            j = it.next()
            out.append((j.jobId(), str(j.name())[:110]))
        return sorted(out)

    # warm the Python-worker / JVM paths so statement 1 is not charged
    # session spinup (mirrors the bench prepass)
    import pyspark.sql.functions as F

    df = spark.range(100).withColumn("g", F.pmod("id", F.lit(4)))
    df.groupBy("g").applyInPandas(
        lambda p: p.head(1), "id long, g long"
    ).write.format("noop").mode("overwrite").save()

    orig_handle = txn_mod.TxnSessionManager.handle
    log: list[tuple[str, float, list]] = []

    def handle(self, session_id, *args):
        before = jobs_now()
        t0 = time.perf_counter()
        out = orig_handle(self, session_id, *args)
        dt = time.perf_counter() - t0
        new = [j for j in jobs_now() if j not in before]
        stmt = " ".join(a for a in args if isinstance(a, str))[:90]
        log.append((f"[{session_id}] {stmt}", dt, new))
        return out

    txn_mod.TxnSessionManager.handle = handle
    try:
        fn = all_queries()[qid]
        before_all = jobs_now()
        t0 = time.perf_counter()
        frame = fn(spark, SF_DIR)
        t_build = time.perf_counter() - t0
        before_read = jobs_now()
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        t_read = time.perf_counter() - t0
        read_jobs = [j for j in jobs_now() if j not in before_read]
    finally:
        txn_mod.TxnSessionManager.handle = orig_handle

    total = 0
    for label, dt, jobs in log:
        print(f"\n== {label}  ({dt:.2f}s, {len(jobs)} jobs)")
        total += len(jobs)
        for jid, name in jobs:
            print(f"   job {jid}: {name}")
    other = [
        j
        for j in before_read
        if j not in before_all and all(j not in jl for _, _, jl in log)
    ]
    print(f"\n== build-time jobs outside handle(): {len(other)}")
    for jid, name in other:
        print(f"   job {jid}: {name}")
    print(f"\n== final read  ({t_read:.2f}s, {len(read_jobs)} jobs)")
    for jid, name in read_jobs:
        print(f"   job {jid}: {name}")
    print(
        f"\nTOTAL statement jobs={total} build_other={len(other)} "
        f"read={len(read_jobs)} build_wall={t_build:.2f}s read_wall={t_read:.2f}s"
    )
    spark.stop()


if __name__ == "__main__":
    main()
