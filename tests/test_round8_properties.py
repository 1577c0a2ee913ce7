"""Round-8 property pins.

1. The nprobe=2 IVF tier (ext_sim_ivf_nprobe — round-7 verdict task
   6) is the PRODUCTION knob: on the clustered fixture it must clear
   the same 0.55 floor as the nprobe=1 tier AND never trail it; on
   the near-isotropic driver fixture widening the probe must buy
   recall (the 0.12->0.28 separation STRESS.json measured, now a
   pytest gate); on the scrambled-cell negative control it must
   collapse below the floor (data-derived centroids over garbage
   cells cannot rescue recall).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from layer_apache_hive_spark.extensions.fixtures import (
    CLUSTERED_RECALL_FLOOR,
    build_clustered_embeddings,
)
from layer_apache_hive_spark.registry import all_queries
from layer_apache_hive_spark.session import TMP_ROOT

SF_DIR = "/root/testdata/sf0.001"
POS_DIR = f"{TMP_ROOT}/clustered/pos"
NEG_DIR = f"{TMP_ROOT}/clustered/neg"

N_QUERIES = 20
K = 5


@pytest.fixture(scope="module")
def clustered_dirs():
    pos = build_clustered_embeddings(SF_DIR, POS_DIR)
    neg = build_clustered_embeddings(SF_DIR, NEG_DIR, scramble_labels=True)
    return pos, neg


def _exact_top5(sf_dir: str) -> dict[int, set[int]]:
    """Exact cosine top-5 per query vector, recomputed independently
    in numpy (float64) — the ground truth the IVF tiers approximate."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t.column("vec_id").to_numpy()
    M = np.stack(t.column("embedding").to_pylist()).astype(np.float64)
    nrm = np.linalg.norm(M, axis=1)
    nrm[nrm == 0.0] = 1.0
    out: dict[int, set[int]] = {}
    for qi in np.nonzero(ids < N_QUERIES)[0]:
        cos = (M @ M[qi]) / (nrm * nrm[qi])
        cos[qi] = -np.inf
        top = np.argsort(-cos, kind="stable")[:K]
        out[int(ids[qi])] = {int(ids[j]) for j in top}
    return out


def _recall(spark, sf_dir: str, query_id: str) -> float:
    exact = _exact_top5(sf_dir)
    rows = all_queries()[query_id](spark, sf_dir).collect()
    hits: dict[int, int] = {q: 0 for q in exact}
    for r in rows:
        if r["neighbor_id"] in exact[r["query_id"]]:
            hits[r["query_id"]] += 1
    assert len(hits) == N_QUERIES
    return sum(hits.values()) / (N_QUERIES * K)


def test_nprobe2_clears_floor_and_never_trails_nprobe1(spark, clustered_dirs):
    """Clustered fixture: nprobe=2 recall@5 must clear the judge
    floor AND be >= the nprobe=1 tier (widening the probe can only
    add candidates)."""
    pos, _ = clustered_dirs
    r1 = _recall(spark, pos, "ext_sim_ivf")
    r2 = _recall(spark, pos, "ext_sim_ivf_nprobe")
    assert r2 >= CLUSTERED_RECALL_FLOOR, (
        f"nprobe=2 clustered recall {r2:.3f} < floor {CLUSTERED_RECALL_FLOOR}"
    )
    assert r2 >= r1, f"nprobe=2 recall {r2:.3f} trails nprobe=1 {r1:.3f}"


def test_nprobe2_buys_recall_on_isotropic_fixture(spark):
    """Driver fixture (near-isotropic): nprobe 1->2 must strictly
    improve recall — the separation STRESS.json measured (0.12->0.28)
    as a live gate."""
    r1 = _recall(spark, SF_DIR, "ext_sim_ivf")
    r2 = _recall(spark, SF_DIR, "ext_sim_ivf_nprobe")
    assert r2 > r1, (
        f"nprobe=2 recall {r2:.3f} does not improve on nprobe=1 {r1:.3f}"
    )


def test_nprobe2_collapses_on_scrambled_cells(spark, clustered_dirs):
    """Negative control: with the cell assignment decorrelated, the
    data-derived centroids are cross-cluster blends — probing two of
    them must still land far under the floor (the gate measures
    quantizer quality even at nprobe=2)."""
    _, neg = clustered_dirs
    r2 = _recall(spark, neg, "ext_sim_ivf_nprobe")
    assert r2 < CLUSTERED_RECALL_FLOOR - 0.15, (
        f"scrambled-cell nprobe=2 recall {r2:.3f} is not below the floor"
    )


def test_hive_acid_directory_election_ignores_compacted_deltas(spark):
    """scan_hive_acid's AcidUtils election: after a (simulated) major
    compaction to base_0000005, delta/delete_delta dirs with writeids
    <= 5 are dead and must be IGNORED — a reader that unions every
    delta double-counts compacted rows. Build: base_0000005 holds
    rows 0..4; a stale delta_0000002_0000002 (already folded into the
    base) and a stale delete_delta_0000003_0000003 both sit below it;
    a live delta_0000006_0000006 adds row 9."""
    import pyarrow as pa
    from pyarrow import orc as pa_orc

    from layer_apache_hive_spark.sources import scans

    root = f"{TMP_ROOT}/hive_acid_election"
    shutil.rmtree(root, ignore_errors=True)

    def write(dirname, keys, otid, op=0, with_row=True):
        d = os.path.join(root, dirname)
        os.makedirs(d, exist_ok=True)
        n = len(keys)
        cols = {
            "operation": pa.array([op] * n, pa.int32()),
            "originalTransaction": pa.array([otid] * n, pa.int64()),
            "bucket": pa.array([0] * n, pa.int32()),
            "rowId": pa.array(range(n), pa.int64()),
            "currentTransaction": pa.array([otid] * n, pa.int64()),
        }
        if with_row:
            cols["row"] = pa.StructArray.from_arrays(
                [
                    pa.array([int(k) for k in keys], pa.int64()),
                    pa.array([f"s{k}" for k in keys], pa.string()),
                    pa.array([float(k) for k in keys], pa.float64()),
                ],
                names=["o_orderkey", "o_orderstatus", "o_totalprice"],
            )
        pa_orc.write_table(pa.table(cols), os.path.join(d, "bucket_00000"))

    write("base_0000005", [0, 1, 2, 3, 4], otid=5)
    write("delta_0000002_0000002", [1, 2], otid=2)  # stale: folded in
    write("delete_delta_0000003_0000003", [0], otid=2, op=2, with_row=False)
    write("delta_0000006_0000006", [9], otid=6)  # live

    # drive the reader body over this root by monkey-pointing the
    # fixture resolver (the query function's only fixture coupling)
    orig = scans._hive_acid_fixture
    scans._hive_acid_fixture = lambda sf_dir: root
    try:
        rows = sorted(
            r["o_orderkey"]
            for r in scans.scan_hive_acid(spark, SF_DIR).collect()
        )
    finally:
        scans._hive_acid_fixture = orig
    assert rows == [0, 1, 2, 3, 4, 9], rows


def test_service_principal_wire_credential_refused():
    """auth.validate_credentials must refuse a wire credential whose
    username equals the JVM service principal — the authorization
    rule treats that identity as in-process (skips every ACL check),
    so serving it would be a silent full bypass."""
    from layer_apache_hive_spark import auth

    with pytest.raises(ValueError, match="service\\s+principal"):
        auth.validate_credentials(
            f"etl:pw,{auth._service_principal()}:pw2"
        )
    auth.validate_credentials("etl:pw,intern:pw2")  # clean set passes


def test_stateful_streaming_on_rocksdb_state_store(spark):
    """The production state backend: Spark's RocksDB state store
    (rocksdbjni ships with this build) must run the stateful
    streaming operators with results IDENTICAL to the default
    HDFS-backed in-memory provider — at 100 TB the session/dedup
    state exceeds executor heap, and RocksDB spills it to local disk,
    so the engine's stateful surface has to be provider-portable.
    Covers dropDuplicatesWithinWatermark (evt_stream_dedup) and
    applyInPandasWithState (evt_sessionize_state)."""
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider"
    )
    qs = all_queries()
    for qid in ("evt_stream_dedup", "evt_sessionize_state"):
        default_rows = sorted(
            map(tuple, qs[qid](spark, SF_DIR).collect())
        )
        prev = spark.conf.get(provider_conf, None)
        spark.conf.set(provider_conf, rocks)
        try:
            rocks_rows = sorted(
                map(tuple, qs[qid](spark, SF_DIR).collect())
            )
        finally:
            if prev is None:
                spark.conf.unset(provider_conf)
            else:
                spark.conf.set(provider_conf, prev)
        assert rocks_rows == default_rows, (
            f"{qid}: RocksDB state store diverges from default provider"
        )
        assert default_rows, f"{qid}: empty result"


def test_semdedup_collapses_clusters_to_one_marginal_survivor(
    spark, clustered_dirs
):
    """SemDeDup keep-policy pinned on the clustered fixture: with
    every within-cluster pair above tau (same-cluster cosine ~0.85),
    each cluster must collapse to EXACTLY ONE survivor, and that
    survivor must be the cluster's most marginal vector (minimal
    centroid cosine) — dropping the outlier instead would invert the
    paper's policy. The isotropic driver fixture pins the other side:
    most vectors survive (threshold actually discriminates)."""
    pos, _ = clustered_dirs
    df = (
        all_queries()["ext_dedup_semantic"](spark, pos)
        .toPandas()
        .sort_values("vec_id")
    )
    kept = df[df.kept]
    assert len(kept) == df.label.nunique(), (
        f"expected one survivor per cluster, got {len(kept)}"
    )
    for lab, grp in df.groupby("label"):
        surv = grp[grp.kept]
        assert len(surv) == 1
        assert surv.iloc[0].cent_cos == grp.cent_cos.min(), (
            f"cluster {lab}: survivor is not the most marginal vector"
        )
    iso = all_queries()["ext_dedup_semantic"](spark, SF_DIR).toPandas()
    assert iso.kept.mean() > 0.9, (
        "isotropic fixture: threshold must keep most vectors"
    )
    assert (~iso.kept).sum() > 0, (
        "isotropic fixture: some near-dups must still drop"
    )
