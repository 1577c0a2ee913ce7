"""Round-10 pins: the four advisor items fixed in code this round.

1. AcidUtils election on the MAX writeid — a merged delta straddling
   the base watermark (min ≤ N < max) is elected with per-event
   validity filtering instead of silently dropped.
2. Watermark parsing tolerates non-ACID entries (compactor scratch
   dirs, stray files) — the crash-recovery situation the
   scratch-then-rename design exists for.
3. expr_cast's digit guard covers the full ≤0x20 trim class
   (pinned in test_properties.test_guarded_try_cast_equals_plain).
4. _lp_fdiv floor division exact ABOVE 2^53 (decimal, not double).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from layer_apache_hive_spark.sources.hive_acid import (
    clean_hive_acid,
    compact_hive_acid,
    export_hive_acid,
    minor_compact_hive_acid,
    read_hive_acid,
)

PAYLOAD = ["k", "status", "price"]
SCHEMA = [("k", "long"), ("status", "string"), ("price", "double")]


def _fields():
    import pyarrow as pa

    return [
        ("k", pa.int64()),
        ("status", pa.string()),
        ("price", pa.float64()),
    ]


def _export_chain(spark, root: str) -> None:
    """The test_hive_acid_export 3-version chain: v1 base keys 1..8,
    v2 +9..10, v3 delete {2, 9} and update price of 3."""
    v1 = spark.createDataFrame(
        [(i, "A", float(i)) for i in range(1, 9)],
        "k long, status string, price double",
    )
    v2 = v1.unionByName(
        spark.createDataFrame(
            [(9, "B", 9.0), (10, "B", 10.0)],
            "k long, status string, price double",
        )
    )
    v3 = v2.filter("k NOT IN (2, 9)").withColumn(
        "price", F.expr("CASE WHEN k = 3 THEN price + 100.0 ELSE price END")
    )
    snaps = {1: v1, 2: v2, 3: v3}
    export_hive_acid(
        spark,
        lambda v: snaps[v],
        versions=[1, 2, 3],
        out_root=root,
        pk="k",
        payload_cols=PAYLOAD,
        payload_fields=_fields(),
        n_buckets=2,
    )


_V3 = {(1, "A", 1.0), (3, "A", 103.0), (10, "B", 10.0)} | {
    (i, "A", float(i)) for i in (4, 5, 6, 7, 8)
}


def _snap(spark, root):
    return {
        (r.k, r.status, r.price)
        for r in read_hive_acid(spark, root, SCHEMA).collect()
    }


def test_straddling_delta_elected_on_max_writeid(spark, tmp_path):
    """A merged delta_0000002_0000003 coexisting with base_0000002
    (min 2 ≤ base 2 < max 3) carries LIVE writeid-3 events; Hive's
    AcidUtils keeps it because its MAX exceeds the base. The reader
    must elect it AND drop its in-base (ctid ≤ 2) events — electing
    on min (the pre-r10 behavior) silently lost transaction 3;
    electing on max without the per-event filter double-counts
    writeid 2."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    _export_chain(spark, a)
    shutil.copytree(a, b)

    # a: minor-merge txns 2..3 into straddled-range dirs, clean inputs
    assert minor_compact_hive_acid(spark, a, SCHEMA, _fields()) == (2, 3)
    clean_hive_acid(a)
    assert sorted(os.listdir(a)) == [
        "base_0000001",
        "delete_delta_0000002_0000003",
        "delta_0000002_0000003",
    ]
    # b: major-compact at watermark 2 → base_0000002; graft it into a
    assert compact_hive_acid(spark, b, SCHEMA, _fields(), max_writeid=2) == 2
    shutil.copytree(
        os.path.join(b, "base_0000002"), os.path.join(a, "base_0000002")
    )
    # base_2 (10 keys, v2 images) + straddling merged dirs: the read
    # must produce exactly the v3 final state
    assert _snap(spark, a) == _V3
    # and the Cleaner keeps the straddling dirs (max 3 > base 2)
    clean_hive_acid(a)
    assert sorted(os.listdir(a)) == [
        "base_0000002",
        "delete_delta_0000002_0000003",
        "delta_0000002_0000003",
    ]
    assert _snap(spark, a) == _V3


def test_stray_scratch_entries_tolerated_under_watermark(spark, tmp_path):
    """A leftover .minor_scratch dir (crashed minor compaction) or a
    stray marker file must not break the watermark parse — the
    pre-r10 _hi() called int() on every entry's suffix and raised
    ValueError on exactly the crash-recovery layout the
    scratch-then-rename design is meant to tolerate."""
    root = str(tmp_path / "acid")
    _export_chain(spark, root)
    os.makedirs(os.path.join(root, ".minor_scratch"))
    open(os.path.join(root, "_SUCCESS"), "w").close()
    open(os.path.join(root, "stray.tmp"), "w").close()

    got = {
        (r.k, r.status, r.price)
        for r in read_hive_acid(
            spark, root, SCHEMA, max_writeid=3
        ).collect()
    }
    assert got == _V3
    # the compactor's watermark path goes through the same election
    assert compact_hive_acid(spark, root, SCHEMA, _fields(), max_writeid=2) == 2


# --- HiveAcidInitiator: threshold-driven compaction (r10 task 4) ------------


def _export_chain4(spark, root: str) -> None:
    """_export_chain plus a v4 that inserts keys 11-12 — three deltas
    over the base, enough to cross a num-threshold of 3."""
    v1 = spark.createDataFrame(
        [(i, "A", float(i)) for i in range(1, 9)],
        "k long, status string, price double",
    )
    v2 = v1.unionByName(
        spark.createDataFrame(
            [(9, "B", 9.0), (10, "B", 10.0)],
            "k long, status string, price double",
        )
    )
    v3 = v2.filter("k NOT IN (2, 9)").withColumn(
        "price", F.expr("CASE WHEN k = 3 THEN price + 100.0 ELSE price END")
    )
    v4 = v3.unionByName(
        spark.createDataFrame(
            [(11, "C", 11.0), (12, "C", 12.0)],
            "k long, status string, price double",
        )
    )
    snaps = {1: v1, 2: v2, 3: v3, 4: v4}
    export_hive_acid(
        spark,
        lambda v: snaps[v],
        versions=[1, 2, 3, 4],
        out_root=root,
        pk="k",
        payload_cols=PAYLOAD,
        payload_fields=_fields(),
        n_buckets=2,
    )


_V4 = _V3 | {(11, "C", 11.0), (12, "C", 12.0)}


def test_initiator_elects_minor_and_defers_cleaner_for_pins(
    spark, tmp_path
):
    """The Hive-layout Initiator: 3 live deltas cross the
    num-threshold and elect MINOR (pct threshold set high); a PINNED
    reader built before the fold stays consistent — the Cleaner
    defers while the pin is open (the subsumed input dirs survive on
    disk) and runs on the first pass after release."""
    from layer_apache_hive_spark.sources.hive_acid import (
        HiveAcidInitiator,
    )

    root = str(tmp_path / "acid")
    _export_chain4(spark, root)
    init = HiveAcidInitiator(
        spark, delta_num_threshold=3, delta_pct_threshold=10.0
    )
    init.enroll(root, SCHEMA, _fields())
    tok = init.pin(root)
    pinned = read_hive_acid(spark, root, SCHEMA)  # plan pins the files

    done = init.run_once()
    assert done == [(root, "minor", (2, 4))], done
    entries = sorted(os.listdir(root))
    # merged dirs exist AND the subsumed inputs survive (clean deferred)
    assert "delta_0000002_0000004" in entries
    assert "delta_0000002_0000002" in entries, entries
    got = {(r.k, r.status, r.price) for r in pinned.collect()}
    assert got == _V4  # the pinned reader still merges its own files

    init.release(root, tok)
    assert init.run_once() == []  # nothing newly compactable...
    entries = sorted(os.listdir(root))  # ...but the deferred clean ran
    assert "delta_0000002_0000002" not in entries, entries
    assert "delta_0000002_0000004" in entries
    assert _snap(spark, root) == _V4
    # steady state: nothing to do
    assert init.run_once() == []


def test_initiator_folds_live_streaming_chain(spark, tmp_path):
    """The streaming-ingest × initiator composition (the r9 'Hive
    ingest shape: writers append deltas, the compactor amortizes
    them' claim, now exercised LIVE): a per-transaction delta writer
    (the evt_stream_hive_acid_ingest commit protocol — scratch write
    + atomic rename) appends batches while the initiator folds the
    chain between them. The FIRST threshold crossing on the
    deltas-only table elects MAJOR and builds the table's first base
    (Hive's Initiator no-base rule — r10 advisor item: a streaming
    table must not minor-compact forever); later crossings, with the
    base in place, elect MINOR. A reader pinned mid-stream stays
    consistent across later folds (Cleaner deferred), and the final
    read is the union of every batch."""
    from pyspark.sql import Window

    from layer_apache_hive_spark.sources.hive_acid import (
        _OP_INSERT,
        HiveAcidInitiator,
        _write_version_dirs,
    )

    root = str(tmp_path / "live")
    os.makedirs(root)

    def commit_batch(w: int) -> None:
        rows = [(w * 10 + i, "S", float(w * 10 + i)) for i in range(5)]
        final = os.path.join(root, f"delta_{w:07d}_{w:07d}")
        if os.path.exists(final):
            return
        events = (
            spark.createDataFrame(
                rows, "k long, status string, price double"
            )
            .withColumn(
                "__bucket", F.pmod(F.hash("k"), F.lit(2)).cast("int")
            )
            .withColumn(
                "__rid",
                (
                    F.row_number().over(
                        Window.partitionBy("__bucket").orderBy("k")
                    )
                    - 1
                ).cast("long"),
            )
            .withColumn("__otid", F.lit(w).cast("long"))
            .withColumn("__ctid", F.lit(w).cast("long"))
            .withColumn("__op", F.lit(_OP_INSERT))
        )
        _write_version_dirs(events, None, final, None, _fields())

    def batch_rows(ws):
        return {
            (w * 10 + i, "S", float(w * 10 + i))
            for w in ws
            for i in range(5)
        }

    init = HiveAcidInitiator(
        spark, delta_num_threshold=2, delta_pct_threshold=10.0
    )
    init.enroll(root, SCHEMA, _fields())

    commit_batch(1)
    assert init.run_once() == []  # one delta: under threshold
    commit_batch(2)
    # 2 deltas, NO base: the count threshold elects MAJOR — the fold
    # that builds the streaming table's first base
    assert init.run_once() == [(root, "major", 2)]
    assert sorted(os.listdir(root)) == ["base_0000002"]
    assert _snap(spark, root) == batch_rows([1, 2])

    tok = init.pin(root)
    pinned = read_hive_acid(spark, root, SCHEMA)  # elects base_2
    commit_batch(3)
    assert init.run_once() == []  # one delta over a base: under both
    commit_batch(4)
    # with the base in place the same threshold elects MINOR (the
    # delta bytes stay under the 10.0 pct ratio)
    assert init.run_once() == [(root, "minor", (3, 4))]
    # Cleaner deferred: the pinned reader's input dirs still on disk
    entries = sorted(os.listdir(root))
    assert "delta_0000003_0000003" in entries, entries
    got = {(r.k, r.status, r.price) for r in pinned.collect()}
    assert got == batch_rows([1, 2])  # snapshot-consistent mid-folds
    # a FRESH election sees everything through the merged run
    assert _snap(spark, root) == batch_rows([1, 2, 3, 4])

    init.release(root, tok)
    assert init.run_once() == []  # deferred clean drains
    assert sorted(os.listdir(root)) == [
        "base_0000002",
        "delta_0000003_0000004",
    ]
    assert _snap(spark, root) == batch_rows([1, 2, 3, 4])


def test_initiator_elects_major_on_size_ratio(spark, tmp_path):
    """Hive's pct rule: when elected delta bytes reach the threshold
    fraction of the base, the initiator elects MAJOR — one fold to
    base_0000004, Cleaner leaves only it, read unchanged."""
    from layer_apache_hive_spark.sources.hive_acid import (
        HiveAcidInitiator,
    )

    root = str(tmp_path / "acid")
    _export_chain4(spark, root)
    init = HiveAcidInitiator(
        spark, delta_num_threshold=100, delta_pct_threshold=0.05
    )
    init.enroll(root, SCHEMA, _fields())
    done = init.run_once()
    assert done == [(root, "major", 4)], done
    assert sorted(os.listdir(root)) == ["base_0000004"]
    assert _snap(spark, root) == _V4
    assert init.run_once() == []


# --- ext_bpe_train: the composed BPE training loop (r10 task 8) -------------


def _ref_bpe(words: dict[str, int], iters: int, top: int):
    """Arbitrary-precision Python reference of the bounded BPE loop:
    greedy single-pass left-to-right merge application, argmax merge
    election with lexicographic tiebreak."""
    state: dict[tuple[str, ...], int] = {}
    for w, c in words.items():
        k = tuple(w)
        state[k] = state.get(k, 0) + c
    rows = []
    for it in range(1, iters + 1):
        pc: dict[tuple[str, str], int] = {}
        for syms, c in state.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] = pc.get((x, y), 0) + c
        ranked = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for rank, ((a, b), n) in enumerate(ranked[:top], 1):
            rows.append((it, rank, a, b, n))
        if not ranked:
            break
        (a, b), _ = ranked[0]
        nxt: dict[tuple[str, ...], int] = {}
        for syms, c in state.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            nxt[k] = nxt.get(k, 0) + c
        state = nxt
    return rows


def test_bpe_train_matches_reference_implementation(spark, tmp_path):
    """The 5-iteration loop over a crafted corpus — multi-char merges
    by iteration 2, overlapping runs ('aaaa'), weight-driven ties —
    must equal the Python reference exactly: election order, merge
    application (greedy single pass), and contender counts."""
    from layer_apache_hive_spark.extensions.text_analysis import (
        _bpe_train_frame,
    )

    words = {
        "aaab": 3,
        "abab": 2,
        "banana": 1,
        "aaaa": 2,
        "ccca": 5,
        "cc": 4,  # len-2 word, single pair
        "x": 9,  # len-1: excluded by the len >= 2 vocab filter
    }
    docs = []
    i = 0
    for w, c in words.items():
        for _ in range(c):
            docs.append((i, w))
            i += 1
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = sorted(
        (r.iteration, r.pair_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in _bpe_train_frame(spark, str(tmp_path), 5).collect()
    )
    expect = sorted(
        _ref_bpe({w: c for w, c in words.items() if len(w) >= 2}, 5, 3)
    )
    assert got == expect, (got, expect)


def test_bpe_train_iteration1_matches_merge_step(spark):
    """Iteration 1 of the loop IS the registered single step: the
    top-3 election rows must coincide with ext_bpe_merge_step's
    first three ranks on the same corpus."""
    from layer_apache_hive_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    train = {
        (r.pair_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in qs["ext_bpe_train"](spark, sf).collect()
        if r.iteration == 1
    }
    step = {
        (r.pair_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in qs["ext_bpe_merge_step"](spark, sf).collect()
        if r.pair_rank <= 3
    }
    assert train == step, (train, step)


def test_bpe_train_exchange_count_flat_per_iteration(spark):
    """Each added merge iteration must add a CONSTANT number of
    Exchange nodes (the kmeans_train contract) — superlinear growth
    would mean iterations re-shuffle previous iterations' state."""
    from layer_apache_hive_spark.extensions.text_analysis import (
        _bpe_train_frame,
    )

    def exchanges(iters: int) -> int:
        df = _bpe_train_frame(spark, "/root/testdata/sf0.001", iters)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    e1, e2, e3 = exchanges(1), exchanges(2), exchanges(3)
    assert e2 - e1 == e3 - e2, (
        f"exchange growth not flat: {e1}, {e2}, {e3}"
    )


@pytest.mark.parametrize(
    "a,b",
    [
        (2**60 + 12345, 1000),
        (-(2**60) - 7, 1000),
        (2**62 - 1, 8000),
        (-(2**62) + 1, 7),
        (2**53 + 1, 3),  # first integer double cannot represent
        (-5, 3),  # floor(-5/3) = -2, not trunc's -1
        (17, 5),
    ],
)
def test_lp_fdiv_exact_above_2_53(spark, a, b):
    """_lp_fdiv must equal Python's arbitrary-precision floor division
    over the FULL documented 2^62 operand bound — the pre-r10 double
    division was exact only below 2^53 (round-10 advisor item)."""
    from layer_apache_hive_spark.extensions.training import _lp_fdiv

    df = spark.createDataFrame([(a, b)], "a long, b long")
    got = df.select(
        _lp_fdiv(F.col("a"), F.col("b")).alias("q")
    ).collect()[0].q
    assert got == a // b, (a, b, got, a // b)


# --- stripe-split decode units (r10: 100 TB posture of the ACID read) --------


def _write_acid_file(path, ks, otid=1, stripe_size=None):
    """One ACID-struct bucket file: insert events for keys ``ks``
    (bucket 0, rid = ordinal), optionally with a tiny stripe size so
    the file holds many stripes."""
    import pyarrow as pa
    from pyarrow import orc as pa_orc

    n = len(ks)
    t = pa.table(
        {
            "operation": pa.array([0] * n, pa.int32()),
            "originalTransaction": pa.array([otid] * n, pa.int64()),
            "bucket": pa.array([0] * n, pa.int32()),
            "rowId": pa.array(list(range(n)), pa.int64()),
            "currentTransaction": pa.array([otid] * n, pa.int64()),
            "row": pa.StructArray.from_arrays(
                [
                    pa.array(ks, pa.int64()),
                    pa.array(["S"] * n, pa.string()),
                    pa.array([float(k) for k in ks], pa.float64()),
                ],
                names=["k", "status", "price"],
            ),
        }
    )
    kw = {"stripe_size": stripe_size} if stripe_size else {}
    pa_orc.write_table(t, path, **kw)


def test_decode_units_split_only_when_starved(tmp_path):
    """Few large files split into per-stripe units; enough files (or
    split_stripes off) stay whole; single-stripe files stay whole
    either way."""
    from pyarrow import orc as pa_orc

    from layer_apache_hive_spark.sources.hive_acid import _decode_units

    big = str(tmp_path / "big.orc")
    _write_acid_file(big, list(range(20000)), stripe_size=64 * 1024)
    small = str(tmp_path / "small.orc")
    _write_acid_file(small, [1, 2, 3])
    ns = pa_orc.ORCFile(big).nstripes
    assert ns > 1

    units = _decode_units([(big, 0), (small, 7)], min_parallelism=32)
    assert [u for u in units if u[0] == small] == [(small, 7, -1)]
    big_units = [u for u in units if u[0] == big]
    assert big_units == [(big, 0, i) for i in range(ns)]
    # enough files already → whole-file units
    many = [(big, 0)] * 40
    assert _decode_units(many, 32) == [(big, 0, -1)] * 40
    # split disabled (min_parallelism 0 → the delete-delta path)
    assert _decode_units([(big, 0)], 0) == [(big, 0, -1)]


def test_stripe_split_read_matches_whole_file(spark, tmp_path):
    """A single multi-stripe base file decodes per-stripe (the
    parallelism-starved case) with NO row lost or doubled, and a
    delete_delta event targeting a row deep in a LATE stripe still
    lands — the ACID struct carries identity per row, so stripe
    decode order is irrelevant (Hive's OrcInputFormat split rule)."""
    from pyspark.sql import functions as F

    from layer_apache_hive_spark.sources.hive_acid import (
        _OP_DELETE,
        _write_version_dirs,
    )

    root = str(tmp_path / "acid")
    base = os.path.join(root, "base_0000001")
    os.makedirs(base)
    n = 20000
    _write_acid_file(
        os.path.join(base, "bucket_00000"),
        list(range(n)),
        stripe_size=64 * 1024,
    )
    dels = spark.createDataFrame(
        [(1, 0, n - 10)], "__otid long, __bucket int, __rid long"
    ).select(
        "__otid", "__bucket", "__rid",
        F.lit(_OP_DELETE).alias("__op"),
        F.lit(2).cast("long").alias("__ctid"),
    )
    empty = spark.createDataFrame(
        [],
        "__op int, __otid long, __bucket int, __rid long, __ctid long,"
        " k long, status string, price double",
    )
    _write_version_dirs(
        empty, dels,
        os.path.join(root, "delta_0000002_0000002"),
        os.path.join(root, "delete_delta_0000002_0000002"),
        _fields(),
    )
    got = read_hive_acid(spark, root, SCHEMA)
    ks = [r.k for r in got.select("k").collect()]
    assert len(ks) == n - 1 == len(set(ks))
    assert (n - 10) not in set(ks)
    # the plan really fans out: more than one decode partition
    assert got.rdd.getNumPartitions() > 1


def test_initiator_republishes_served_view_on_plain_ingest(
    spark, tmp_path
):
    """A served name must track PLAIN ingest too, not just folds:
    a writer appending a delta below every compaction threshold
    changes the election, and the next initiator pass re-publishes
    the view (Hive re-runs getAcidState per query; the daemon
    cadence is the served name's freshness bound)."""
    from layer_apache_hive_spark.sources.hive_acid import (
        HiveAcidInitiator,
        _OP_INSERT,
        _write_version_dirs,
    )
    from pyspark.sql import Window

    root = str(tmp_path / "served")
    os.makedirs(root)

    def commit_batch(w, keys):
        events = (
            spark.createDataFrame(
                [(k, "S", float(k)) for k in keys],
                "k long, status string, price double",
            )
            .withColumn("__bucket", F.lit(0).cast("int"))
            .withColumn(
                "__rid",
                (
                    F.row_number().over(
                        Window.partitionBy("__bucket").orderBy("k")
                    )
                    - 1
                ).cast("long"),
            )
            .withColumn("__otid", F.lit(w).cast("long"))
            .withColumn("__ctid", F.lit(w).cast("long"))
            .withColumn("__op", F.lit(_OP_INSERT))
        )
        _write_version_dirs(
            events, None, os.path.join(root, f"delta_{w:07d}_{w:07d}"),
            None, _fields(),
        )

    commit_batch(1, [1, 2])
    init = HiveAcidInitiator(
        spark, delta_num_threshold=100, delta_pct_threshold=100.0
    )
    init.enroll(root, SCHEMA, _fields(), serve_as="served_acid")
    served = lambda: {  # noqa: E731
        r.k for r in spark.table("global_temp.served_acid").collect()
    }
    assert served() == {1, 2}

    commit_batch(2, [3])  # below every threshold: no fold
    assert init.run_once() == []  # nothing compacted...
    assert served() == {1, 2, 3}  # ...but the served name re-elected
    # steady state: no election change → publish not needed (the
    # pass is metadata-only); the view still serves correctly
    assert init.run_once() == []
    assert served() == {1, 2, 3}
