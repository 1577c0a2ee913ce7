"""catalog.read_table infers a table's schema once per file identity,
and both session factories size Spark's codegen cache.

A schema inference is a Spark job that opens the parquet footers. The
cache keys it by every file the path resolves to (name, size, mtime,
inode) and by the session confs that change what the same footers
infer, so a rewrite or a different conf infers again."""

from __future__ import annotations

import datetime
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import BinaryType, StringType, TimestampType

from layer_apache_hive_spark.catalog import read_table, table_path

CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_runs_no_job(spark, tmp_path):
    sf = str(tmp_path)
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
                   table_path(sf, "t"))
    first, n1 = _jobs(spark, lambda: read_table(spark, sf, "t"))
    second, n2 = _jobs(spark, lambda: read_table(spark, sf, "t"))
    assert n1 >= 1  # the inference job, which the counter must see
    assert n2 == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewrite_at_same_path_infers_again(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "t")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert read_table(spark, sf, "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": [0.5, 1.5]}), path)
    df = read_table(spark, sf, "t")
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(1, 0.5), (2, 1.5)]


@pytest.mark.parametrize("layout", ["file", "directory"])
@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_shapes_read_as_timestamp(spark, tmp_path, unit, layout):
    """events.ts as nanosecond int64 or µs without UTC adjustment (Spark
    infers TIMESTAMP_NTZ) comes back as TimestampType, on the first
    (inferring) and the second (cached) read, from a file or a
    directory of part files."""
    sf = str(tmp_path)
    ts = [datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
          datetime.datetime(2024, 6, 7, 8, 9, 10)]
    table = pa.table({"event_id": [1, 2],
                      "ts": pa.array(ts, type=pa.timestamp(unit))})
    path = table_path(sf, "events")
    if layout == "directory":
        os.makedirs(path)
        pq.write_table(table.slice(0, 1), f"{path}/part-0.parquet")
        pq.write_table(table.slice(1), f"{path}/part-1.parquet")
    else:
        pq.write_table(table, path)
    for _ in range(2):
        df = read_table(spark, sf, "events")
        assert df.schema["ts"].dataType == TimestampType()
        assert sorted(r.ts for r in df.collect()) == ts


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    sf = str(tmp_path)
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], type=pa.binary())}),
                   table_path(sf, "t"))
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_table(spark, sf, "t").schema["b"].dataType == BinaryType()
        spark.conf.set(key, "true")
        df = read_table(spark, sf, "t")
        assert df.schema["b"].dataType == StringType()
        assert sorted(r.b for r in df.collect()) == ["x", "y"]
        spark.conf.set(key, "false")
        assert read_table(spark, sf, "t").schema["b"].dataType == BinaryType()
    finally:
        spark.conf.set(key, before)


def test_built_session_has_codegen_capacity(spark):
    assert spark.conf.get(CODEGEN_CACHE) == "1000"


class _Built(Exception):
    pass


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records every conf, then
    stops the factory at getOrCreate."""

    def __init__(self, seen: dict):
        self.seen = seen

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def enableHiveSupport(self):
        return self

    def config(self, key, value):
        self.seen[key] = value
        return self

    def getOrCreate(self):
        raise _Built


@pytest.mark.parametrize("factory", ["get_spark", "hive_session"])
def test_every_session_factory_sets_codegen_capacity(
    monkeypatch, tmp_path, factory
):
    from layer_apache_hive_spark import metastore, session

    build = {
        "get_spark": lambda: session.get_spark(master="local[1]"),
        "hive_session": lambda: metastore.hive_session(
            metastore_dir=str(tmp_path / "ms"),
            warehouse_dir=str(tmp_path / "wh"),
            master="local[1]",
        ),
    }[factory]
    seen: dict = {}
    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder(seen))
    with pytest.raises(_Built):
        build()
    assert seen[CODEGEN_CACHE] == "1000"
