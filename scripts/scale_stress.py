#!/usr/bin/env python
"""Scale-stress harness: measure how operators scale with data size.

Correctness is gated by the oracle sweeps; THIS script gates the
scaling claim. It derives a k×-replicated corpus from the fixture
tree (fact tables unioned k times with shifted keys and perturbed
text so dedup/join semantics stay realistic; dimension tables copied
verbatim), runs a representative slice of the registry at 1× and k×,
and records the wall-clock ratio per query in STRESS.json.

Reading the ratio on local[32] at sf0.1 (~600k-row facts):
  - ratio ≈ k  → compute-bound and linear: the plan does O(n) work.
  - ratio < k  → fixed overhead (JVM, planning, small shuffles)
    still dominates at this size — fine.
  - ratio >> k (superlinear; flagged at > 1.6·k) → the operator does
    super-linear work and would NOT survive a 100 TB run. The gate:
    STRESS.json must contain zero superlinear rows.

Replication shifts every join/group key by a disjoint offset per
replica, so key cardinality scales with data (group counts, join
fan-outs stay realistic rather than multiplying densities), and
document text gets a per-replica suffix so near-dup candidate sets
stay linear.

Usage:
    python scripts/scale_stress.py [--k 8] [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from layer_apache_hive_spark.catalog import TABLES  # noqa: E402
from layer_apache_hive_spark.registry import all_queries  # noqa: E402
from layer_apache_hive_spark.session import get_spark  # noqa: E402

# fact tables: replicated with shifted keys; everything else copied
_KEY_SHIFTS = {
    # table -> columns shifted by replica * offset (disjoint key space)
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    # label shifts WITH the replica: the per-replica circular roll is
    # a coordinate permutation (orthogonal transform), so replica i
    # carries its own rotated copy of the source's clusters — k·10
    # TRUE clusters total. Shifted labels identify them, keeping the
    # IVF coarse-quantizer invariant (label = the vector's actual
    # cluster); leaving labels unshifted mixed 8 mutually-rotated
    # point sets per bucket and collapsed measured IVF recall@5 to
    # 0.11 — a corpus artifact, not a plan property.
    "embeddings": ["vec_id", "label"],
}
_OFFSET = 10_000_000

# Round 10 (VERDICT r9 item 1): the default slice is the ENTIRE
# registry — r9's narrowing to an ext_/evt_ "core slice" silently
# dropped 147 ids' superlinearity evidence, and
# tests/test_artifacts.py::test_committed_stress_covers_registry now
# gates STRESS.json's id set == the live registry, so a subset can
# never ship as the committed artifact again (subset runs remain
# available via explicit ids, which UPDATE rows in place).


def stress_queries(qs: dict) -> list[str]:
    return sorted(qs)


def build_corpus(spark, src_dir: str, dst_dir: str, k: int) -> None:
    os.makedirs(dst_dir, exist_ok=True)
    for t in TABLES:
        dst = f"{dst_dir}/{t}.parquet"
        if os.path.exists(dst):
            continue
        src = f"{src_dir}/{t}.parquet"
        if t not in _KEY_SHIFTS:
            shutil.copy(src, dst)
            continue
        base = spark.read.parquet(src)
        reps = []
        for i in range(k):
            r = base
            for c in _KEY_SHIFTS[t]:
                r = r.withColumn(c, F.col(c) + F.lit(i * _OFFSET))
            if t == "embeddings" and i > 0:
                # Same corpus rule as documents (below): replicas must
                # be DISTINCT vectors, not exact clones — identical
                # vectors land in identical LSH buckets, so bucket
                # pair counts grow k^2 BY SEMANTICS (flagged
                # ext_sim_lsh 14.9x on the first full-tier pass).
                # A per-replica circular roll keeps the norm and the
                # realistic geometry while changing direction.
                r = r.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {i} + 1, "
                        f"size(embedding) - {i}), "
                        f"slice(embedding, 1, {i}))"
                    ),
                )
            if t == "documents" and i > 0:
                # Replicas must be DISTINCT documents, not near-dups:
                # a suffix-only perturbation leaves ~all shingles
                # shared, so every doc gains k-1 true near-dup /
                # containment partners and pair-emitting dedup output
                # grows k^2 BY SEMANTICS — measuring the corpus, not
                # the plan (first stress run flagged exactly that).
                # A per-replica letter substitution rewrites ~every
                # word, so shingle document-frequencies stay ~flat.
                sub = "".join(chr(ord("a") + (j + i) % 26) for j in range(5))
                r = r.withColumn(
                    "text",
                    F.concat(
                        F.lit(f"rep{i} "),
                        F.translate(F.col("text"), "aeiou", sub),
                    ),
                )
            reps.append(r)
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        # one file per replica keeps scan parallelism comparable
        out.repartition(k * 4).write.mode("overwrite").parquet(dst)


def time_query(qs, qid: str, spark, sf_dir: str, reps: int = 3) -> float:
    """Best-of-N wall clock. This VM's timings are bimodal (external
    CPU steal produces 3-10x outlier runs on identical plans), and
    the question STRESS answers is how much WORK the plan does —
    min over repetitions is the estimator robust to that noise."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        df = qs[qid](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return best


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=8)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "ids",
        nargs="*",
        help="optional subset of query ids; subset runs UPDATE the "
        "matching rows of STRESS.json in place instead of rewriting "
        "the whole file (iteration on one operator keeps the full "
        "record intact)",
    )
    args = ap.parse_args()

    spark = get_spark()
    qs = all_queries()
    label = os.path.basename(args.sf_dir.rstrip("/"))
    big_dir = f"{REPO}/.tmp/stress/{label}x{args.k}"
    print(f"building {args.k}x corpus at {big_dir} ...", flush=True)
    build_corpus(spark, args.sf_dir, big_dir, args.k)

    results = {}
    superlinear_cut = 1.6 * args.k
    queries = stress_queries(qs)
    if args.ids:
        unknown = set(args.ids) - set(qs)
        if unknown:
            sys.exit(f"unknown query id(s): {sorted(unknown)}")
        # explicit ids run verbatim (not intersected with the default
        # tier) so NEW queries can be stressed before joining the slice
        queries = list(dict.fromkeys(args.ids))
    print(f"stress slice: {len(queries)} queries", flush=True)
    for qid in queries:
        # warm once (file listing, codegen, broadcast), then best-of-3
        time_query(qs, qid, spark, args.sf_dir, reps=1)
        t1 = time_query(qs, qid, spark, args.sf_dir)
        tk = time_query(qs, qid, spark, big_dir)
        ratio = tk / t1 if t1 > 0 else float("inf")
        # OUTPUT growth is part of the minimum work ANY engine pays:
        # a pair-emitting query whose result rows grow ~n^2 on a k x
        # corpus (ext_sim_lsh at theta=0.3 over mutually-random
        # replicas: 15k -> 15.5M rows at 32x, the containment lesson
        # in its un-fixable-by-corpus form) cannot be linear in n.
        # The fair cut is 1.6 * max(input growth, output growth) —
        # flagging only work in excess of writing the answer. For
        # queries with scale-invariant output (the common case)
        # r_out ~ 1 and this reduces to the old 1.6*k cut exactly.
        n1 = qs[qid](spark, args.sf_dir).count()
        nk = qs[qid](spark, big_dir).count()
        r_out = (nk / n1) if n1 else 1.0
        cut = superlinear_cut * max(1.0, r_out / args.k)
        results[qid] = {
            # k recorded PER ROW: a subset re-run at a different --k
            # merges into STRESS.json with its own threshold, so the
            # file never mixes ratios judged against the wrong cut
            "k": args.k,
            "t_1x_sec": round(t1, 3),
            f"t_{args.k}x_sec": round(tk, 3),
            "ratio": round(ratio, 2),
            "rows_1x": n1,
            f"rows_{args.k}x": nk,
            "output_growth": round(r_out, 2),
            "cut": round(cut, 1),
            "superlinear": ratio > cut,
        }
        print(
            f"  {qid}: {t1:.2f}s -> {tk:.2f}s  ratio {ratio:.2f} "
            f"(rows x{r_out:.1f}, cut {cut:.1f})"
            f"{'  ** SUPERLINEAR **' if ratio > cut else ''}",
            flush=True,
        )

    out = {
        "k": args.k,
        "sf_dir": args.sf_dir,
        "superlinear_flag_above": round(superlinear_cut, 1),
        "n_superlinear": sum(r["superlinear"] for r in results.values()),
        "queries": results,
    }
    if args.ids and os.path.exists(f"{REPO}/STRESS.json"):
        with open(f"{REPO}/STRESS.json") as fh:
            out = json.load(fh)
        # Legacy rows predate per-row k: stamp them with the file's
        # recorded k so the merged record states how EVERY row was
        # measured (each row's superlinear flag was computed against
        # its own 1.6*k cut at write time).
        for rec in out["queries"].values():
            rec.setdefault("k", out.get("k"))
        out["queries"].update(results)
        out["n_superlinear"] = sum(
            r["superlinear"] for r in out["queries"].values()
        )
        out["k"] = {rec["k"] for rec in out["queries"].values()}
        out["k"] = sorted(out["k"])[0] if len(out["k"]) == 1 else "per-row"
    with open(f"{REPO}/STRESS.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"\nwrote STRESS.json — {out['n_superlinear']} superlinear")
    return 1 if out["n_superlinear"] else 0


if __name__ == "__main__":
    sys.exit(main())
