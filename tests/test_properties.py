"""Property-based tests (hypothesis) for the hand-built kernels.

The oracle suite checks fixed datasets; these check the *algebraic
claims* the implementations rest on, over generated inputs:

- dsum is partition-layout invariant (the determinism story for every
  double aggregate in the oracle suite);
- the block-pair cosine kernel equals a single-threaded numpy brute
  force with the same FLOOR-scaled integer math (exactness of the
  distributed decomposition);
- the prefix-filter near-dup pipeline finds EXACTLY the pairs a brute
  force finds (completeness theorem holds in the implementation).
"""

from __future__ import annotations

import itertools
import uuid
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from layer_apache_hive_spark.functions.numeric import dsum
from layer_apache_hive_spark.session import TMP_ROOT
from tests.conftest import SF_DIR

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False, width=32),
        min_size=1,
        max_size=120,
    ),
    nparts=st.integers(1, 8),
)
def test_dsum_is_partition_invariant(spark, vals, nparts):
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = df.repartition(nparts).agg(dsum("v").alias("s")).collect()[0]["s"]
    q = Decimal("0.0001")
    expected = float(
        sum(Decimal(float(v)).quantize(q, rounding=ROUND_HALF_UP) for v in vals)
    )
    assert got == expected


@settings(**_SETTINGS)
@given(
    data=st.data(),
    n=st.integers(2, 24),
    dim=st.integers(2, 8),
)
def test_allpairs_cosine_matches_bruteforce(spark, data, n, dim):
    from layer_apache_hive_spark.extensions.similarity import _allpairs_cosine

    theta = 0.0  # emit everything; exactness is the property
    rng = np.random.RandomState(data.draw(st.integers(0, 2**31 - 1)))
    vecs = (rng.standard_normal((n, dim)) * 0.2).astype(np.float32)
    # avoid zero-norm vectors (cosine undefined)
    vecs[np.abs(vecs).sum(1) == 0] += 0.1
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in _allpairs_cosine(df, theta, force="block").collect()
    }
    got_bc = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in _allpairs_cosine(df, theta, force="broadcast").collect()
    }
    assert got_bc == got  # two physical plans, one semantic

    v64 = vecs.astype(np.float64)
    norms = np.sqrt(np.floor(v64 * v64 * 1e12).astype(np.int64).sum(1) / 1e12)
    expected = {}
    for a, b in itertools.combinations(range(n), 2):
        dot = np.floor(v64[a] * v64[b] * 1e12).astype(np.int64).sum() / 1e12
        cos = dot / (norms[a] * norms[b])
        if cos >= theta:
            expected[(a, b)] = cos
    assert got == expected


def _brute_jaccard_pairs(texts, tau):
    def shingles(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else None

    sets = {i: s for i, t in enumerate(texts) if (s := shingles(t))}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a]) + len(sets[b]) - inter
        if union and inter / union >= tau:
            out[(a, b)] = inter
    return out


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["join", "scan", "filter", "agg", "sort", "row"]),
            min_size=3,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=20,
    )
)
def test_prefix_filter_neardup_is_complete(spark, tmp_path_factory, texts):
    """The PPJoin prefix/length/positional filters must be lossless:
    pipeline output == brute-force shingle-Jaccard on any corpus."""
    from layer_apache_hive_spark.extensions.dedup import _TAU, ext_dedup_near

    d = tmp_path_factory.mktemp(f"neardup_{uuid.uuid4().hex[:8]}")
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    pdf.to_parquet(d / "documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"]): r["shared_shingles"]
        for r in ext_dedup_near(spark, str(d)).collect()
    }
    assert got == _brute_jaccard_pairs(texts, _TAU)


def test_cc_large_small_star_path_graph(spark):
    """A path graph is the worst case for label propagation (rounds =
    diameter); large-star/small-star must collapse a 64-node path in
    O(log n) rounds and label every node with the minimum id."""
    from layer_apache_hive_spark.extensions.dedup import _cc_large_small_star

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    # 2*log2(64)=12 alternating rounds is the paper's bound with slack;
    # diameter-bound propagation would need ~63
    labels = _cc_large_small_star(edges, max_rounds=12)
    rows = labels.collect()
    assert len(rows) == n
    assert all(r["lbl"] == 0 for r in rows)


def test_cc_large_small_star_multi_component(spark):
    """Components must not merge: two separate triangles + one pair."""
    from layer_apache_hive_spark.extensions.dedup import _cc_large_small_star

    e = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (20, 21)]
    labels = _cc_large_small_star(
        spark.createDataFrame(e, "u long, v long"), max_rounds=12
    )
    got = {r["id"]: r["lbl"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_minhash_recall_vs_exact(spark):
    """ext_dedup_minhash (banded LSH, probabilistic) must recover at
    least 60% of the true Jaccard>=tau pairs found by the exact
    prefix-filter pipeline, and every pair it reports must be true
    (the verify step makes precision exact by construction)."""
    from layer_apache_hive_spark.extensions.dedup import (
        ext_dedup_minhash,
        ext_dedup_near,
    )

    exact = {
        (r["doc_a"], r["doc_b"]) for r in ext_dedup_near(spark, SF_DIR).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"]) for r in ext_dedup_minhash(spark, SF_DIR).collect()
    }
    assert approx <= exact  # exact verify => no false positives
    assert exact  # fixture sanity: there are true pairs to find
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.6, f"minhash recall {recall:.2f} < 0.6"


def test_sim_lsh_recall_vs_exact(spark):
    """ext_sim_lsh (random-hyperplane buckets) must recover at least
    60% of the true cosine>=threshold pairs from the exact all-pairs
    kernel ext_sim_join, with no false positives (exact re-verify)."""
    from layer_apache_hive_spark.extensions.similarity import (
        ext_sim_join,
        ext_sim_lsh,
    )

    from layer_apache_hive_spark.extensions.similarity import _SIM_JOIN_THETA

    exact = {
        (r["vec_a"], r["vec_b"]) for r in ext_sim_join(spark, SF_DIR).collect()
    }
    # lsh reports down to cosine 0.2; compare at the join's theta —
    # both sides use the identical FLOOR-scaled dot, so equality at
    # the threshold is exact, not approximate
    approx = {
        (r["vec_a"], r["vec_b"])
        for r in ext_sim_lsh(spark, SF_DIR).collect()
        if r["cosine"] >= _SIM_JOIN_THETA
    }
    assert approx <= exact
    assert exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.6, f"lsh recall {recall:.2f} < 0.6"


def test_multimodal_embed_batch_size_invariance(spark, monkeypatch):
    """Batched inference must give identical results for any micro-
    batch size (chunking is a memory knob, not a semantic one), and
    must match a single-row reference computation."""
    import numpy as np
    import layer_apache_hive_spark.extensions.multimodal as mm

    def run():
        rows = mm.ext_multimodal_embed(spark, SF_DIR).collect()
        return {
            r["doc_id"]: tuple(round(r[f"emb_{k}"], 12) for k in range(8))
            for r in rows
        }

    base = run()
    monkeypatch.setattr(mm, "_INFER_BATCH", 7)
    assert run() == base
    # spot-check one doc against a direct single-payload call
    import duckdb
    con = duckdb.connect()
    text = con.execute(
        f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet') WHERE doc_id = 0"
    ).fetchone()[0]
    ref = mm._fake_embed([text.encode()])[0]
    assert base[0] == tuple(round(float(x), 12) for x in ref)


def test_cluster_driver_uf_matches_star_loop(spark):
    """ext_dedup_clusters' driver union-find fast path must produce
    exactly the labels of the distributed star loop on a random
    graph (same min-reachable-id semantic, different physical plan)."""
    import random

    from layer_apache_hive_spark.extensions.dedup import _cc_large_small_star

    rng = random.Random(7)
    # no self-loops: near-dup pairs are strictly doc_a < doc_b (the
    # star loop drops pure-self-loop nodes; UF would keep them)
    edges = [
        (a, b)
        for a, b in (
            (rng.randrange(200), rng.randrange(200)) for _ in range(160)
        )
        if a != b
    ][:150]
    star = {
        r["id"]: r["lbl"]
        for r in _cc_large_small_star(
            spark.createDataFrame(edges, "u long, v long"), max_rounds=20
        ).collect()
    }

    parent = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    uf = {x: find(x) for x in parent}
    # star loop drops pure self-loop nodes the same way UF sees them;
    # compare on the union of keys
    assert {k: v for k, v in uf.items() if k in star} == star
    assert set(uf) == set(star)


def test_holdout_split_is_partitioning_invariant(spark):
    """The train/valid/test assignment must be a pure function of
    doc_id — identical under any physical partitioning (rand()-based
    splits fail this; hash-based must pass)."""
    from layer_apache_hive_spark.extensions.text_analysis import (
        ext_sample_holdout,
    )

    base = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in ext_sample_holdout(spark, SF_DIR).collect()
    }
    reparted = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in ext_sample_holdout(spark, SF_DIR).repartition(7).collect()
    }
    assert base == reparted
    splits = {s for _, s in base.values()}
    assert splits == {"train", "valid", "test"}


def test_quantize_reconstruction_error_bound(spark):
    """floor-based int8 quantization: |x - q*scale| < scale for every
    element, and q stays in [-128, 127]."""
    import numpy as np

    from layer_apache_hive_spark.catalog import read_table
    from layer_apache_hive_spark.extensions.similarity import ext_emb_quantize

    q = {r["vec_id"]: r for r in ext_emb_quantize(spark, SF_DIR).collect()}
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in read_table(spark, SF_DIR, "embeddings").limit(50).collect()
    }
    for vid, x in emb.items():
        row = q[vid]
        scale = row["scale_e9"] / 1e9
        qv = np.asarray([int(v) for v in row["q_csv"].split(",")], dtype=np.int64)
        assert qv.min() >= -128 and qv.max() <= 127
        # scale_e9 is floored to 1e-9, and the true scale used for
        # quantization is up to 1e-9 larger: |q| <= 128 amplifies that
        # to 1.28e-7 of extra reconstruction slack
        assert np.all(np.abs(x - qv * scale) <= scale + 1.3e-7)


def test_domain_mix_hits_target_proportions(spark):
    """ext_sample_domain_mix: the achieved language shares must sit
    within hash-noise tolerance of the declared mix (en 30%, others
    17.5%), and the binding language keeps ~its whole corpus."""
    from collections import Counter

    from layer_apache_hive_spark.catalog import read_table
    from layer_apache_hive_spark.extensions.training import (
        ext_sample_domain_mix,
    )

    rows = ext_sample_domain_mix(spark, SF_DIR).collect()
    got = Counter(r["lang"] for r in rows)
    n_out = sum(got.values())
    assert n_out > 0
    target = {lang: (0.30 if lang == "en" else 0.175) for lang in got}
    for lang, cnt in got.items():
        share = cnt / n_out
        # multiplicative-hash thresholding is Bernoulli-ish per doc:
        # allow 4 sigma + 2% absolute slack at test corpus sizes
        import math

        tol = 4 * math.sqrt(target[lang] / n_out) + 0.02
        assert abs(share - target[lang]) <= tol, (lang, share, target[lang])
    # nothing sampled beyond a group's corpus
    have = Counter(
        r["lang"]
        for r in read_table(spark, SF_DIR, "documents").select("lang").collect()
    )
    for lang, cnt in got.items():
        assert cnt <= have[lang]


def test_ivfpq_recall_against_exact_topk(spark):
    """ext_sim_ivfpq (PQ codes + ADC + exact rerank) must recover a
    healthy fraction of the exact top-10 — measured 0.68 at sf0.001;
    the run is fully deterministic, so slack only covers driver-side
    testdata regeneration."""
    from layer_apache_hive_spark.extensions.similarity import (
        ext_sim_ivfpq,
        ext_sim_topk,
    )

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ext_sim_topk(spark, SF_DIR).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ext_sim_ivfpq(spark, SF_DIR).collect()
    }
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.55, f"PQ recall@10 degraded to {recall:.2f}"


def test_ivfpq_join_rescore_matches_broadcast_rescore(spark, monkeypatch):
    """The distributed join-form exact rescore (the 100 TB path) must
    produce exactly the broadcast fast path's results."""
    import layer_apache_hive_spark.extensions.similarity as sim

    fast = {
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 9), r["rank"])
        for r in sim.ext_sim_ivfpq(spark, SF_DIR).collect()
    }
    monkeypatch.setattr(sim, "_LSH_BROADCAST_MAX_VECS", 0)
    slow = {
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 9), r["rank"])
        for r in sim.ext_sim_ivfpq(spark, SF_DIR).collect()
    }
    assert fast == slow and fast


def test_sessionize_fold_bounded_million_event_user():
    """The stateful sessionizer's fold must survive a million-event
    hot user delivered as many unsorted Arrow-sized chunks: each chunk
    folds to intervals independently and the running list stays
    O(sessions), so the exact session set comes out regardless of
    delivery order — without ever holding all events in one list."""
    import numpy as np

    from layer_apache_hive_spark.streaming.events import (
        _SESSION_GAP_US,
        _fold_chunk_us,
        _gap_merge,
    )

    n_sessions, per_session = 10, 100_000
    sec = 1_000_000
    starts = np.arange(n_sessions, dtype=np.int64) * (
        per_session * sec + 2 * _SESSION_GAP_US
    )
    ts = (starts[:, None] + np.arange(per_session, dtype=np.int64) * sec).ravel()
    rng = np.random.RandomState(7)
    rng.shuffle(ts)

    intervals: list = []
    for chunk in np.array_split(ts, 100):
        intervals = _gap_merge(sorted(intervals + _fold_chunk_us(chunk)))

    assert [tuple(iv) for iv in intervals] == [
        (int(s), int(s + (per_session - 1) * sec), per_session) for s in starts
    ]


def test_sessionize_state_matches_per_batch_fold(spark):
    """evt_sessionize_state value check: simulate its exact semantics
    batch-by-batch (each time-split source file = one micro-batch; per
    batch, fold state + batch events into gap-merged intervals, emit
    all but the open trailing one, carry it forward) and require the
    streaming output to equal the simulation in the pinned
    oldest-mtime-first processing order."""
    import datetime
    import glob as globmod
    import os
    from collections import defaultdict

    import layer_apache_hive_spark.streaming.events as ev
    from layer_apache_hive_spark.catalog import normalize_ts

    def to_us(dt):
        return int(
            dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
        )

    def parse_us(s):
        return to_us(
            datetime.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f")
        )

    got = {
        (
            r["user_id"],
            parse_us(r["session_start"]),
            parse_us(r["session_end"]),
            r["n_events"],
        )
        for r in ev.evt_sessionize_state(spark, SF_DIR).collect()
    }

    label = os.path.basename(SF_DIR.rstrip("/"))
    files = sorted(
        globmod.glob(f"{TMP_ROOT}/stream_src_tsplit/{label}/*.parquet"),
        key=os.path.getmtime,
    )
    assert len(files) == 2
    # the time-split invariant the oracle rests on: every event in the
    # second batch is strictly later than every event in the first
    ev._pin_stream_confs(spark)
    max0 = normalize_ts(spark.read.parquet(files[0])).agg(
        {"ts": "max"}
    ).collect()[0][0]
    min1 = normalize_ts(spark.read.parquet(files[1])).agg(
        {"ts": "min"}
    ).collect()[0][0]
    assert max0 < min1

    per_file: list[dict] = []
    for f in files:
        by_user = defaultdict(list)
        for r in normalize_ts(spark.read.parquet(f)).select(
            "user_id", "ts"
        ).collect():
            by_user[r["user_id"]].append(to_us(r["ts"]))
        per_file.append(by_user)

    def simulate(order):
        emitted, state = set(), {}
        for by_user in order:
            for u, ts in by_user.items():
                iv = [list(state[u])] if u in state else []
                iv = ev._gap_merge(sorted(iv + ev._fold_chunk_us(ts)))
                emitted |= {(u, s, last, c) for s, last, c in iv[:-1]}
                state[u] = iv[-1]
        return emitted

    assert got == simulate(per_file) and got


def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    """The late-DROP facet of watermarking (evt_watermark_late's
    docstring delegates it here): a row arriving in a later run whose
    window is already finalized must be discarded by the persisted
    watermark, not re-emitted. Two availableNow runs share one
    checkpoint: run 1 sets the watermark; run 2 delivers one late row
    (far below it) plus one fresh row and must emit ONLY the fresh
    row's newly-finalized window."""
    import datetime

    import pyspark.sql.functions as F

    import layer_apache_hive_spark.streaming.events as ev

    ev._pin_stream_confs(spark)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def rows(*minutes):
        return [(base + datetime.timedelta(minutes=m), 1.0) for m in minutes]

    def write_file(name, minutes):
        spark.createDataFrame(
            rows(*minutes), "ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}.__stage")
        import glob as g
        import os
        import shutil

        os.makedirs(src, exist_ok=True)
        shutil.move(
            g.glob(f"{src}.__stage/part-*.parquet")[0], f"{src}/{name}.parquet"
        )
        shutil.rmtree(f"{src}.__stage", ignore_errors=True)

    out_dir = str(tmp_path / "out")

    def run():
        # file sink, not memory: only file sinks support resuming
        # from a checkpoint, and resuming is the point of this test
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return {
            (r["ws"].isoformat(), r["n"])
            for r in spark.read.parquet(out_dir).collect()
        }

    def key(minute):
        return (base + datetime.timedelta(minutes=minute)).isoformat()

    # run 1: events at t=0 and t=60min; terminal watermark = 50min ⇒
    # only the t=0 window finalizes
    write_file("b1", [0, 60])
    out1 = run()
    assert out1 == {(key(0), 1)}

    # run 2: late row at t=5min (window [5,10) ended long before the
    # persisted 50min watermark ⇒ DROPPED) + fresh row at t=80min
    # (advances watermark to 70min ⇒ finalizes the [60,65) window).
    # Had the late row been accepted, its [5,10) window would emit
    # here too (its end is far below the new watermark) — so the
    # emitted delta observes the drop directly. The sink accumulates,
    # so run 2's emissions are the delta.
    write_file("b2", [5, 80])
    out2 = run() - out1
    assert out2 == {(key(60), 1)}


def test_guarded_try_cast_equals_plain_try_cast(spark):
    """expr_cast's digit-guard fast path (r9 perf fix): the guard
    accepts a SUPERSET of every int-parseable string, so
    when(guard, s).try_cast('int') must equal s.try_cast('int') on
    every edge shape — signs, padding, decimals, exponents, unicode
    digits, overflow, empties, and CONTROL-CHAR padding: Spark's
    string→int parse trims all leading/trailing bytes ≤ 0x20 (wider
    than regex \\s, which misses e.g. \\x01) — the round-10 advisor
    item, so the guard class is [\\x00-\\x20]."""
    from pyspark.sql import functions as F

    edge = [
        "O", "F", "P", "12", " 12 ", "+12", "-12", "12.5", "12.",
        "1e3", "", " ", "+-1", "1 2", "٣", "12a", None,
        "2147483648", "  -000042", ".5", "-", "+", "0",
        # bytes ≤ 0x20 that \s does NOT cover but Spark's parse trims
        "\x0112", "\x1f42\x01", "\x00 7", "12\x02", "\x0b\x0c13\x1e",
        "\x01a2",  # control char + non-digit: both sides NULL
    ]
    df = spark.createDataFrame([(e,) for e in edge], "s string")
    guard = F.col("s").rlike(
        r"^[\x00-\x20+\-.0-9]*[0-9][\x00-\x20+\-.0-9]*$"
    )
    rows = df.select(
        "s",
        F.col("s").try_cast("int").alias("plain"),
        F.when(guard, F.col("s")).try_cast("int").alias("guarded"),
    ).collect()
    for r in rows:
        assert r.plain == r.guarded, (repr(r.s), r.plain, r.guarded)
