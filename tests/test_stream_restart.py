"""Round-8 task: exactly-once across a REAL mid-stream crash +
checkpoint restart (round-7 verdict task 7).

The registered streaming mirrors (evt_stream_acid_sink /
evt_stream_cdc_apply) run 2-batch availableNow sources and simulate a
replay by hand-calling the batch function. Here the at-least-once
window is driven for real: a 4-batch checkpointed stream whose
foreachBatch CRASHES after the sink commit of batch 1 but before the
checkpoint advances (the exact window Structured Streaming documents
as replay-prone), then a new query resumes from the same checkpoint.
Spark redelivers batch 1; the sink's idempotence guard must drop it
without a third copy, and batches 2..3 must land exactly once.

Both sinks assert the final table hash-equals the batch oracle
(per-type counts + decimal-exact sums computed from the raw source)
and that the version chain shows exactly one commit per logical batch
— a double-commit or a dropped batch fails the count, a lost/doubled
row fails the sum.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import StreamingQueryException

from layer_apache_hive_spark.acid import CommitConflict, VersionedTable
from layer_apache_hive_spark.functions.numeric import dsum
from layer_apache_hive_spark.session import TMP_ROOT

SF_DIR = "/root/testdata/sf0.001"
ROOT = f"{TMP_ROOT}/stream_restart"


def _four_file_source(spark, name: str) -> str:
    """4 parquet files (one micro-batch each under maxFilesPerTrigger=1)
    of the events table, mtimes pinned so batch order is stable."""
    src = f"{ROOT}/{name}/src"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    parts = ev.withColumn("b", F.pmod(F.xxhash64("event_id"), F.lit(4)))
    for i in range(4):
        staged = f"{ROOT}/{name}/stage{i}"
        parts.filter(F.col("b") == i).drop("b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(staged, part), dst)
        os.utime(dst, (1700000000 + 100 * i,) * 2)
        shutil.rmtree(staged, ignore_errors=True)
    return src


def _run_stream(spark, src: str, checkpoint: str, fn) -> None:
    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_acid_sink_exactly_once_across_kill_and_restart(spark):
    """foreachBatch + commit_partitions keyed by batch id: crash AFTER
    the commit of batch 1, BEFORE its checkpoint advance; restart must
    recognize the replayed batch in the head manifest and drop it."""
    name = "acid"
    shutil.rmtree(f"{ROOT}/{name}", ignore_errors=True)
    src = _four_file_source(spark, name)
    checkpoint = f"{ROOT}/{name}/ckpt"
    vt = VersionedTable(f"{ROOT}/{name}/table")
    crashed = {"done": False}

    def commit_batch(batch_df, batch_id: int) -> None:
        key = str(batch_id)
        base = vt.current_version()
        if base > 0 and key in vt.manifest(base).get("partitions", {}):
            return  # replayed batch: already committed
        try:
            vt.commit_partitions(
                batch_df.select("event_id", "event_type", "value")
                .withColumn("batch", F.lit(key)),
                "batch",
                base_version=base,
                touched_values=[key],
            )
        except CommitConflict:
            if key not in vt.manifest(vt.current_version()).get(
                "partitions", {}
            ):
                raise
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after sink commit of batch 1")

    with pytest.raises(StreamingQueryException, match="injected crash"):
        _run_stream(spark, src, checkpoint, commit_batch)
    assert vt.current_version() == 2, "batches 0,1 committed before crash"

    # resume from the SAME checkpoint: Spark replays batch 1 (its
    # offset was never committed), then runs 2 and 3
    _run_stream(spark, src, checkpoint, commit_batch)

    head = vt.current_version()
    assert head == 4, f"exactly one commit per batch expected, got {head}"
    got = (
        vt.read(spark, head)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("s"))
    )
    want = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("s"))
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_cdc_apply_exactly_once_across_kill_and_restart(spark):
    """CDC apply with version arithmetic (batch b commits version
    b+2): crash after batch 1's table commit but before its
    checkpoint; the restarted query's redelivery of batch 1 must be
    dropped by the head >= b+2 guard, and batches 2..3 applied once."""
    name = "cdc"
    shutil.rmtree(f"{ROOT}/{name}", ignore_errors=True)
    src_dir = f"{ROOT}/{name}/src"
    os.makedirs(src_dir)
    checkpoint = f"{ROOT}/{name}/ckpt"

    seed = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p")
        )
    )
    vt = VersionedTable(f"{ROOT}/{name}/table")
    vt.init(seed)

    # 4 ordered CDC batches: upsert %5 (+100), insert re-keyed %50,
    # delete %7, overwrite %10 to 1.0 — update-after-update, insert-
    # then-survive and delete-of-updated lineage across the restart
    batches = [
        seed.filter(F.col("k") % 5 == 0).select(
            F.lit("upsert").alias("op"), "k", (F.col("p") + 100.0).alias("p")
        ),
        seed.filter(F.col("k") % 50 == 0).select(
            F.lit("upsert").alias("op"),
            (F.col("k") + 2000000000).alias("k"),
            F.lit(7.0).alias("p"),
        ),
        seed.filter(F.col("k") % 7 == 0).select(
            F.lit("delete").alias("op"),
            "k",
            F.lit(None).cast("double").alias("p"),
        ),
        seed.filter((F.col("k") % 10 == 0) & (F.col("k") % 7 != 0)).select(
            F.lit("upsert").alias("op"), "k", F.lit(1.0).alias("p")
        ),
    ]
    for i, b in enumerate(batches):
        staged = f"{ROOT}/{name}/stage{i}"
        b.coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = os.path.join(src_dir, f"b{i}.parquet")
        os.rename(os.path.join(staged, part), dst)
        os.utime(dst, (1700000000 + 100 * i,) * 2)
        shutil.rmtree(staged, ignore_errors=True)

    crashed = {"done": False}

    def apply_batch(batch_df, batch_id: int) -> None:
        head = vt.current_version()
        if head < batch_id + 2:  # not yet applied
            cur = vt.read(spark, head)
            keys = batch_df.select("k").distinct()
            ups = batch_df.filter(F.col("op") == "upsert").select("k", "p")
            vt.commit(
                cur.join(keys, "k", "left_anti").unionByName(ups),
                base_version=head,
            )
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after CDC apply of batch 1")

    with pytest.raises(StreamingQueryException, match="injected crash"):
        _run_stream(spark, src_dir, checkpoint, apply_batch)
    assert vt.current_version() == 3, "init + batches 0,1 before crash"

    _run_stream(spark, src_dir, checkpoint, apply_batch)

    head = vt.current_version()
    assert head == 5, f"init + 4 single commits expected, got {head}"
    # batch oracle: replay the change algebra on DataFrames
    expect = seed
    for b in batches:
        keys = b.select("k").distinct()
        ups = b.filter(F.col("op") == "upsert").select("k", "p")
        expect = expect.join(keys, "k", "left_anti").unionByName(ups)
    got = vt.read(spark, head).agg(
        F.count(F.lit(1)).alias("n"), dsum("p").alias("s")
    )
    want = expect.agg(F.count(F.lit(1)).alias("n"), dsum("p").alias("s"))
    assert got.collect() == want.collect()


def test_hive_acid_ingest_exactly_once_across_kill_and_restart(spark):
    """The Hive-layout streaming ingest (r9,
    evt_stream_hive_acid_ingest's commit protocol): crash AFTER the
    delta_W_W rename of batch 1, BEFORE its checkpoint advance. The
    restarted query replays batch 1; the rename guard must drop it
    (its delta already exists) and batches 2..3 must land as exactly
    one delta each — the final election read hash-equals the raw
    source aggregate and the delta count is exactly 4."""
    import pyarrow as pa

    from layer_apache_hive_spark.sources.hive_acid import (
        _OP_INSERT,
        _write_version_dirs,
        read_hive_acid,
    )
    from pyspark.sql import Window

    name = "hive_ingest"
    shutil.rmtree(f"{ROOT}/{name}", ignore_errors=True)
    src = _four_file_source(spark, name)
    checkpoint = f"{ROOT}/{name}/ckpt"
    table = f"{ROOT}/{name}/table"
    os.makedirs(table)
    fields = [
        ("event_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
    crashed = {"done": False}

    def commit_batch(batch_df, batch_id: int) -> None:
        w = int(batch_id) + 1
        final = os.path.join(table, f"delta_{w:07d}_{w:07d}")
        if not os.path.exists(final):
            events = (
                batch_df.select("event_id", "event_type", "value")
                .withColumn(
                    "__bucket",
                    F.pmod(F.hash("event_id"), F.lit(4)).cast("int"),
                )
                .withColumn(
                    "__rid",
                    (
                        F.row_number().over(
                            Window.partitionBy("__bucket").orderBy(
                                "event_id"
                            )
                        )
                        - 1
                    ).cast("long"),
                )
                .withColumn("__otid", F.lit(w).cast("long"))
                .withColumn("__ctid", F.lit(w).cast("long"))
                .withColumn("__op", F.lit(_OP_INSERT))
            )
            _write_version_dirs(events, None, final, None, fields)
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after delta rename of batch 1")

    with pytest.raises(StreamingQueryException, match="injected crash"):
        _run_stream(spark, src, checkpoint, commit_batch)
    deltas = sorted(
        d for d in os.listdir(table) if d.startswith("delta_")
    )
    assert deltas == ["delta_0000001_0000001", "delta_0000002_0000002"], (
        "batches 0,1 landed before the crash"
    )

    _run_stream(spark, src, checkpoint, commit_batch)

    deltas = sorted(
        d for d in os.listdir(table) if d.startswith("delta_")
    )
    assert len(deltas) == 4, f"exactly one delta per batch: {deltas}"
    schema = [
        ("event_id", "long"),
        ("event_type", "string"),
        ("value", "double"),
    ]
    got = (
        read_hive_acid(spark, table, schema)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("s"))
    )
    want = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("s"))
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
