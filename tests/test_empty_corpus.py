"""Empty-corpus totality regression (scripts/edge_empty.py, pinned).

Empty inputs are routine at scale — a pruned-away partition, a day
with no events, a corpus emptied by a quality gate. Round 3's sweep
found 14 queries that raised on 0-row tables (np.stack on empty
driver frames, schema inference over file-less partitioned writes,
Hadoop's sequence writer needing a first record, int(None) from an
empty percentile). This suite pins those ids green against a
schema-faithful 0-row twin of every fixture table; the
full-registry sweep stays in scripts/edge_empty.py (run per-round,
exit 0 required).
"""

from __future__ import annotations

import pytest

from scripts.edge_empty import EMPTY_DIR, build_empty

from layer_apache_hive_spark.registry import all_queries

# the ids the round-3 sweep caught raising on empty input
ONCE_BROKEN = [
    "evt_sessionize_state",
    "ext_dedup_clusters",
    "ext_dedup_embedding",
    "ext_dedup_minhash",
    "ext_dedup_near",
    "ext_shard_export",
    "ext_sim_ivfpq",
    "ext_sim_join",
    "ext_sim_lsh",
    "scan_partition_prune",
    "scan_sequencefile",
    "sink_delete",
    "sink_dynamic_partition",
    "sink_update",
]


@pytest.fixture(scope="module")
def empty_dir(spark):
    build_empty(spark)
    return EMPTY_DIR


@pytest.mark.parametrize("qid", ONCE_BROKEN)
def test_runs_on_empty_corpus(spark, empty_dir, qid):
    df = all_queries()[qid](spark, empty_dir)
    assert df.count() == 0
    assert len(df.schema) > 0
