"""Delete events apply inside each hive-ACID decode task.

``read_hive_acid`` decodes every elected data file in a ``mapInPandas``
task, and that task also loads the delete events of its own partition
and bucket and drops the rows they name (Hive's per-split delete-event
registry). These tests pin what that buys and what it must keep:

1. a snapshot read is ONE Spark job (no delete-side decode job, no
   broadcast join), with the oracle's rows;
2. survivors equal a pandas replay on a 4-bucket, 2-partition layout
   whose partitions share identity triples, whose base is read per
   stripe, and which holds an aborted and an above-watermark delete
   event that must not apply;
3. a minor compaction writes its delta and delete_delta with one
   write.
"""

from __future__ import annotations

import os
import uuid

import duckdb
import pandas as pd
import pytest

from layer_apache_hive_spark.catalog import table_path
from layer_apache_hive_spark.oracle_compare import assert_matches
from layer_apache_hive_spark.registry import _REGISTRY, _load_all_modules
from layer_apache_hive_spark.sources import hive_acid
from layer_apache_hive_spark.sources.hive_acid import (
    ValidWriteIdList,
    read_hive_acid,
)
from tests.test_round10_properties import SCHEMA

_load_all_modules()

SF01 = "/root/testdata/sf0.01"


def _count_jobs(spark, action):
    """(Spark jobs ``action`` ran, its result), counted by job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _oracle(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{table_path(SF01, 'orders')}')"
    )
    try:
        return con.execute(sql).df()
    finally:
        con.close()


# --- 1. one job per read ----------------------------------------------------


@pytest.mark.parametrize(
    "qid",
    ["scan_hive_acid", "scan_hive_acid_original", "scan_hive_acid_v2_names"],
)
def test_acid_read_with_deletes_is_one_job(spark, qid):
    """Every one of these layouts elects a delete_delta. The second
    call (write-once fixture already built) runs exactly one Spark
    job — the decode — and still returns the oracle's rows."""
    q = _REGISTRY[qid]
    q.fn(spark, SF01).collect()  # builds the fixture
    jobs, rows = _count_jobs(spark, lambda: q.fn(spark, SF01).toPandas())
    assert jobs == 1, f"{qid}: {jobs} Spark jobs per read"
    assert_matches(rows, _oracle(q.oracle))


def test_acid_read_plan_has_no_broadcast_exchange(spark):
    df = _REGISTRY["scan_hive_acid"].fn(spark, SF01)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    assert "Join" not in plan, plan


# --- 2. survivors on a partitioned, bucketed, stripe-split layout -----------

_BUCKETS = 4
_PARTS = ("a", "b")
_BASE_ROWS = 3000  # per bucket file; many stripes at _STRIPE bytes
_STRIPE = 16 * 1024


def _acid_file(path, idents, ctids, keys=None, stripe=None):
    """One bucket file: insert events carrying ``keys`` or, with
    ``keys`` None, delete events. ``idents`` are (otid, bucket, rid)
    triples and ``ctids`` their writeids."""
    import pyarrow as pa
    from pyarrow import orc as pa_orc

    n = len(idents)
    cols = {
        "operation": pa.array([2 if keys is None else 0] * n, pa.int32()),
        "originalTransaction": pa.array([i[0] for i in idents], pa.int64()),
        "bucket": pa.array([i[1] for i in idents], pa.int32()),
        "rowId": pa.array([i[2] for i in idents], pa.int64()),
        "currentTransaction": pa.array(ctids, pa.int64()),
    }
    if keys is not None:
        cols["row"] = pa.StructArray.from_arrays(
            [
                pa.array(keys, pa.int64()),
                pa.array(["S"] * n, pa.string()),
                pa.array([float(k) for k in keys], pa.float64()),
            ],
            names=["k", "status", "price"],
        )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    kw = {"stripe_size": stripe} if stripe else {}
    pa_orc.write_table(pa.table(cols), path, **kw)


def _build_layout(root):
    """Per partition and bucket: a writeid-1 base and a writeid-2
    insert delta whose identity triples are the SAME in both
    partitions (their keys differ), plus delete events in every
    bucket:

    * ``delete_delta_3_3`` (committed): victims in every stripe of
      the base and in the delta, chosen differently per partition
      and bucket, so a triple deleted in one partition lives in the
      other;
    * ``delete_delta_4_5``: one event of committed writeid 4 and one
      of writeid 5, which the read's list marks aborted;
    * ``delete_delta_6_7``: straddles the read's watermark 6 — one
      event of writeid 6 (visible) and one of writeid 7 (not).

    Returns (rows, events): every inserted row as
    (p, otid, bucket, rid, k), every delete event as
    (p, otid, bucket, rid, ctid)."""
    rows, events = [], []
    for pi, p in enumerate(_PARTS):
        pdir = os.path.join(root, f"p={p}")
        for b in range(_BUCKETS):
            name = f"bucket_{b:05d}"
            off = pi * 1_000_000 + b * 100_000
            base = [(1, b, r) for r in range(_BASE_ROWS)]
            delta = [(2, b, r) for r in range(20)]
            data = {
                "base_0000001": (base, 1, [off + r for _, _, r in base]),
                "delta_0000002_0000002": (
                    delta, 2, [off + 50_000 + r for _, _, r in delta]
                ),
            }
            for d, (idents, w, keys) in data.items():
                _acid_file(
                    os.path.join(pdir, d, name), idents, [w] * len(idents),
                    keys=keys, stripe=_STRIPE if w == 1 else None,
                )
                rows += [(p, *i, k) for i, k in zip(idents, keys)]
            step = 7 + 4 * pi + b
            dels = {
                "delete_delta_0000003_0000003": [
                    *[((1, b, r), 3) for r in range(0, _BASE_ROWS, step)],
                    *[((2, b, r), 3) for r in range(pi, 20, 3)],
                ],
                # the writeid-5 and -7 targets are not writeid-3
                # victims (rid % step != 0)
                "delete_delta_0000004_0000005": [
                    ((1, b, 1 + pi + 2 * b), 4),
                    ((1, b, 100 * step + 1), 5),
                ],
                "delete_delta_0000006_0000007": [
                    ((2, b, 19 - pi), 6),
                    ((1, b, 150 * step + 2), 7),
                ],
            }
            for d, evs in dels.items():
                _acid_file(
                    os.path.join(pdir, d, name),
                    [i for i, _ in evs], [w for _, w in evs],
                )
                events += [(p, *i, w) for i, w in evs]
    return rows, events


def test_inline_deletes_match_pandas_replay(spark, tmp_path, monkeypatch):
    """Survivors of a read under ValidWriteIdList(hwm 6, aborted 5)
    equal a pandas replay of the layout's events. The decode target
    is raised past the file count (as on a wide cluster), so every
    base file is read per stripe and each stripe task loads its
    bucket's deletes itself."""
    root = str(tmp_path / "t")
    rows, events = _build_layout(root)
    real = hive_acid._decode_units
    monkeypatch.setattr(
        hive_acid, "_decode_units", lambda paths, _n: real(paths, 10_000)
    )

    got = read_hive_acid(
        spark, root, SCHEMA,
        valid_writeids=ValidWriteIdList.from_string("t:6:::5"),
        partition_col="p",
    )
    survivors = {(r.p, r.k) for r in got.collect()}

    live = pd.DataFrame(rows, columns=["p", "otid", "bucket", "rid", "k"])
    ev = pd.DataFrame(events, columns=["p", "otid", "bucket", "rid", "ctid"])
    valid = ev[(ev["ctid"] <= 6) & (ev["ctid"] != 5)]
    ident = ["p", "otid", "bucket", "rid"]
    hit = live.merge(valid[ident].drop_duplicates(), on=ident, how="left",
                     indicator=True)["_merge"] == "both"
    expect = set(zip(live["p"][~hit.values], live["k"][~hit.values]))
    assert survivors == expect

    # the replay is not vacuous: every bucket of both partitions lost
    # rows; the rows the aborted and above-watermark events name are
    # still there; and a triple deleted in one partition survives in
    # the other
    dead = live[hit.values]
    assert set(zip(dead["p"], dead["bucket"])) == {
        (p, b) for p in _PARTS for b in range(_BUCKETS)
    }
    kept = live.merge(ev[ev["ctid"].isin([5, 7])][ident], on=ident)
    assert len(kept) == 2 * len(_PARTS) * _BUCKETS
    assert set(zip(kept["p"], kept["k"])) <= survivors
    dead_a = set(map(tuple, dead[dead["p"] == "a"][ident[1:]].values))
    dead_b = set(map(tuple, dead[dead["p"] == "b"][ident[1:]].values))
    assert dead_a - dead_b and dead_b - dead_a

    # and the base really was read per stripe
    from pyarrow import orc as pa_orc

    base0 = os.path.join(root, "p=a", "base_0000001", "bucket_00000")
    assert pa_orc.ORCFile(base0).nstripes > 1
    n_files = len(_PARTS) * _BUCKETS * 2
    assert got.rdd.getNumPartitions() >= n_files + len(_PARTS) * _BUCKETS


# --- 3. minor compaction: one write job -------------------------------------


def test_minor_compact_sink_job_count(spark):
    """sink_hive_acid_minor_compact copies the shared 3-writeid layout,
    folds its two deltas and its delete delta with ONE write (2 Spark
    jobs: the shuffle map stage and the result stage; two writes were
    4), and reads the result in one job."""
    q = _REGISTRY["sink_hive_acid_minor_compact"]
    q.fn(spark, SF01).collect()  # builds the shared layout
    jobs, rows = _count_jobs(spark, lambda: q.fn(spark, SF01).toPandas())
    assert jobs == 3
    assert_matches(rows, _oracle(q.oracle))
