"""Round-6 second-batch property pins (sf0.001, shared session).

Each new operator gets an invariant the oracle hash alone cannot
express — mostly independent reimplementations of the semantics in
plain pandas, so a bug that happened to be mirrored in the SQL twin
(the one failure mode a cross-engine hash can't see) still fails CI:

1. evt_cep_pattern: literal MATCH_RECOGNIZE `ERROR+ PURCHASE` greedy
   scan per user, SKIP PAST LAST ROW, recomputed row-by-row.
2. ext_rag_chunk: chunks tile the token stream exactly — stride 48,
   16-token overlap, full coverage, byte-identical slices.
3. ext_pipeline_dpo: chosen strictly beats rejected; a doc never
   plays both roles inside one bucket; ranks stay in the top half.
4. ext_sample_importance: the kept set IS the md5 threshold set, and
   the IPW arithmetic is exact.
5. evt_transition_matrix: per-source probabilities floor-sum to 1e6
   within n_types, and the matrix accounts for every non-first event.
6. agg_mode: the mode really is the argmax frequency, smallest-value
   tiebreak.
7. evt_windowed_topk: per-day ranks are 1..3 with revenue
   non-increasing and the user_id tiebreak honored.
8. ext_split_leakage: every witness is a true fingerprint twin across
   the split boundary, with the exact dup count.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tests.conftest import SF_DIR

from layer_apache_hive_spark.registry import (
    _load_all_modules,
    all_queries,
)

_load_all_modules()
_Q = all_queries()


def _run(spark, qid) -> pd.DataFrame:
    return _Q[qid](spark, SF_DIR).toPandas()


def _events(sf_dir) -> pd.DataFrame:
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    return e.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)


def _docs(sf_dir) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


def _md5_bucket(prefix: str, key, mod: int) -> int:
    h = hashlib.md5(f"{prefix}{key}".encode()).hexdigest()
    return int(h[:8], 16) % mod


# --- 1. CEP: independent greedy scan -----------------------------------------


def test_cep_pattern_matches_literal_greedy_scan(spark):
    got = _run(spark, "evt_cep_pattern")
    got_set = {
        (r.user_id, r.n_errors, r.purchase_event_id)
        for r in got.itertuples()
    }
    want = set()
    for user_id, g in _events(SF_DIR).groupby("user_id"):
        run_len = 0
        for r in g.itertuples():
            if r.event_type == "error":
                run_len += 1
            else:
                if run_len and r.event_type == "purchase":
                    want.add((user_id, run_len, r.event_id))
                run_len = 0
    assert got_set == want
    assert len(want) > 0, "fixture must exercise the pattern"


# --- 2. RAG chunking tiles the token stream ----------------------------------


def test_rag_chunks_tile_tokens_exactly(spark):
    C, S = 64, 48
    got = _run(spark, "ext_rag_chunk")
    toks = {
        r.doc_id: r.text.split(" ") for r in _docs(SF_DIR).itertuples()
    }
    seen_docs = set()
    for r in got.itertuples():
        t = toks[r.doc_id]
        start = r.chunk_idx * S
        want_slice = t[start : start + C]
        assert r.chunk_text == " ".join(want_slice)
        assert r.n_chunk_tokens == len(want_slice)
        assert 1 <= r.n_chunk_tokens <= C
        seen_docs.add(r.doc_id)
    # coverage: per doc the last chunk reaches the final token
    last = got.groupby("doc_id").apply(
        lambda g: (g.chunk_idx * S + g.n_chunk_tokens).max(),
        include_groups=False,
    )
    for doc_id, end in last.items():
        assert end == len(toks[doc_id])
    assert seen_docs == {d for d, t in toks.items() if len(t) > 0}


# --- 3. DPO pairing invariants ------------------------------------------------


def test_dpo_pairs_disjoint_and_strict(spark):
    got = _run(spark, "ext_pipeline_dpo")
    assert (got.chosen_score > got.rejected_score).all()
    assert (got.margin == got.chosen_score - got.rejected_score).all()
    for _, g in got.groupby(["lang", "source"]):
        assert not (set(g.chosen_doc_id) & set(g.rejected_doc_id))
        assert g.pair_rank.is_unique


# --- 4. Importance sampling is the md5 threshold set --------------------------


def test_importance_sampling_selection_is_exact(spark):
    got = _run(spark, "ext_sample_importance")
    d = _docs(SF_DIR)
    want = {}
    for r in d.itertuples():
        t = r.text.split(" ")
        if not t:
            continue
        keep = min(10000, (len(set(t)) * 20000) // len(t))
        if _md5_bucket("imp:", r.doc_id, 10000) < keep:
            want[r.doc_id] = keep
    assert dict(zip(got.doc_id, got.keep_micro)) == want
    assert (got.ipw_micro == 10_000_000_000 // got.keep_micro).all()


# --- 5. Transition matrix accounting ------------------------------------------


def test_transition_matrix_is_stochastic_and_total(spark):
    got = _run(spark, "evt_transition_matrix")
    e = _events(SF_DIR)
    n_types = e.event_type.nunique()
    per_src = got.groupby("prev_type").p_micro.sum()
    assert ((per_src > 1_000_000 - n_types) & (per_src <= 1_000_000)).all()
    nf = got.groupby("prev_type").n_trans.sum()
    for prev, total in nf.items():
        assert (got[got.prev_type == prev].n_from == total).all()
    assert got.n_trans.sum() == len(e) - e.user_id.nunique()


# --- 6. Mode is the argmax with smallest-value tiebreak ------------------------


def test_mode_is_argmax_frequency(spark):
    got = _run(spark, "agg_mode")
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    for r in got.itertuples():
        counts = li[li.l_returnflag == r.l_returnflag].l_quantity.value_counts()
        top = counts.max()
        assert r.n_mode == top
        assert r.mode_qty == min(q for q, c in counts.items() if c == top)


# --- 7. Windowed top-k order ---------------------------------------------------


def test_windowed_topk_rank_order(spark):
    got = _run(spark, "evt_windowed_topk")
    assert got.rk.isin([1, 2, 3]).all()
    for _, g in got.groupby("day"):
        g = g.sort_values("rk")
        assert list(g.rk) == list(range(1, len(g) + 1))
        rev = list(g.revenue)
        uid = list(g.user_id)
        for a, b in zip(range(len(g) - 1), range(1, len(g))):
            assert rev[a] > rev[b] or (rev[a] == rev[b] and uid[a] < uid[b])


# --- 8. Split leakage: witnesses are true cross-split twins --------------------


def test_split_leakage_witnesses_are_true_twins(spark):
    got = _run(spark, "ext_split_leakage")
    d = _docs(SF_DIR)
    fp = {
        r.doc_id: " ".join(sorted(set(r.text.split(" "))))
        for r in d.itertuples()
    }
    is_val = {
        r.doc_id: _md5_bucket("holdout:", r.doc_id, 100) < 10
        for r in d.itertuples()
    }
    train_by_fp: dict[str, list[int]] = {}
    for doc_id, f in fp.items():
        if not is_val[doc_id]:
            train_by_fp.setdefault(f, []).append(doc_id)
    for r in got.itertuples():
        assert is_val[r.doc_id]
        twins = train_by_fp.get(fp[r.doc_id], [])
        assert r.witness_train_doc_id == min(twins)
        assert r.n_train_dups == len(twins)
    # completeness: every leaked val doc is reported
    want = {
        doc_id
        for doc_id, f in fp.items()
        if is_val[doc_id] and f in train_by_fp
    }
    assert set(got.doc_id) == want


# --- 9. BPE merge step: pandas recount of the pair election --------------------


def test_bpe_merge_step_elects_true_argmax(spark):
    got = _run(spark, "ext_bpe_merge_step").sort_values("pair_rank")
    from collections import Counter

    wc = Counter()
    for r in _docs(SF_DIR).itertuples():
        for w in r.text.split(" "):
            if len(w) >= 2:
                wc[w] += 1
    pairs = Counter()
    for w, c in wc.items():
        for i in range(len(w) - 1):
            pairs[(w[i], w[i + 1])] += c
    want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got_rows = [
        ((r.left_sym, r.right_sym), r.pair_count) for r in got.itertuples()
    ]
    assert got_rows == want
    assert list(got.is_merge) == [1] + [0] * (len(got) - 1)


# --- 10. PCA step: numpy recompute within the scaled-integer tolerance ----------


def test_pca_step_matches_numpy(spark):
    import numpy as np

    got = _run(spark, "ext_emb_pca_step").sort_values("dim")
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    v0 = np.array([((j * 37 + 11) % 13 - 6) / 10.0 for j in range(1, 65)])
    w = X.T @ (X @ v0)
    # two FLOOR-scaled stages: |err| <= n_rows/1e10 + 64*|x|/1e12 slack
    tol = len(X) / 1e10 + 1e-6
    assert np.allclose(got.component.to_numpy(), w, atol=tol)
    assert list(got.dim) == list(range(1, 65))


# --- 11. Bitmap distinct equals pandas nunique ---------------------------------


def test_bitmap_distinct_equals_nunique(spark):
    got = _run(spark, "agg_bitmap_distinct")
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    want = li.groupby("l_returnflag").agg(
        p=("l_partkey", "nunique"), s=("l_suppkey", "nunique")
    )
    for r in got.itertuples():
        assert (r.ndv_parts, r.ndv_supps) == (
            want.loc[r.l_returnflag, "p"],
            want.loc[r.l_returnflag, "s"],
        )


# --- 12. Null-safe join: the NULL class survives --------------------------------


def test_null_safe_join_keeps_null_class(spark):
    got = _run(spark, "join_null_safe")
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    prio = o.o_orderpriority.where(o.o_orderpriority != "3-MEDIUM")
    want = prio.fillna("NULL").value_counts()
    assert "NULL" in set(got.priority), "the NULL class must match itself"
    for r in got.itertuples():
        assert r.n_matched == want[r.priority]
        assert r.class_orders == want[r.priority]


# --- 13. string_agg: sorted, complete, reproducible ------------------------------


def test_string_agg_sorted_and_complete(spark):
    got = _run(spark, "agg_string_agg")
    n = pd.read_parquet(f"{SF_DIR}/nation.parquet")
    for r in got.itertuples():
        want = sorted(n[n.n_regionkey == r.n_regionkey].n_name)
        assert r.nations == ", ".join(want)
        assert r.n_nations == len(want)
