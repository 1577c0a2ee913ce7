#!/usr/bin/env python
"""Gate ext_dedup_semantic_learned's O(n^1.5) pair-work law against
MEASURED within-cell pair counts (r10 verdict task 10; the lsh_law
precedent — stress-TIMING alone cannot distinguish n^1.5 from n^1.8
over one octave, pair COUNTS can).

SemDeDup at k = ⌈√n⌉ Lloyd cells (Abbas et al. 2023 §3) scores
pairwise cosine ONLY within cells: total pair work is
Σ_c n_c(n_c−1)/2. Balanced cells (n_c ≈ √n) give ≈ n^1.5/2; cell
skew pushes the exponent toward 2 (one cell holding everything IS
the all-pairs kernel). This script runs the REGISTERED quantizer
(similarity._lloyd_cells — same seeds, same FLOOR scale) on the
1×/8×/32× stress corpora, measures the actual cell histogram, and
fits the log-log slope of pair work vs n. The committed gate
(tests/test_artifacts.py) requires the fitted exponent ≤ 1.6.

Appends a ``semdedup_law`` section to STRESS.json (APPENDER — never
rewrites the file; scripts/scale_stress.py is the rewriter, run the
appenders after it per the regen protocol).

Usage:
    python scripts/semdedup_law_check.py [--k 1 8 32] \
        [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from layer_apache_hive_spark.catalog import read_table  # noqa: E402
from layer_apache_hive_spark.extensions.similarity import (  # noqa: E402
    _lloyd_cells,
)
from layer_apache_hive_spark.session import get_spark  # noqa: E402

EXPONENT_CUT = 1.6  # theory 1.5 for balanced cells; headroom for skew


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, nargs="+", default=[1, 8, 32])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from scripts.scale_stress import build_corpus  # noqa: E402

    spark = get_spark(app_name="semdedup-law-check")
    label = os.path.basename(args.sf_dir.rstrip("/"))
    points = {}
    ns, works = [], []
    for k in sorted(args.k):
        if k == 1:
            corpus = args.sf_dir
        else:
            corpus = f"{REPO}/.tmp/stress/{label}x{k}"
            print(f"building {k}x corpus at {corpus} ...", flush=True)
            build_corpus(spark, args.sf_dir, corpus, k)
        t0 = time.monotonic()
        emb = read_table(spark, corpus, "embeddings").select(
            "vec_id", "embedding"
        )
        n = emb.count()
        kk = int(math.ceil(math.sqrt(n)))
        hist = (
            _lloyd_cells(emb, kk)
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        agg = hist.agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"),
            F.max("c").alias("max_cell"),
            F.count(F.lit(1)).alias("n_nonempty_cells"),
        ).collect()[0]
        pairs = int(agg.pairs)
        ns.append(n)
        works.append(pairs)
        points[f"{label}x{k}"] = {
            "n_vecs": n,
            "k_cells": kk,
            "nonempty_cells": int(agg.n_nonempty_cells),
            "max_cell": int(agg.max_cell),
            "within_cell_pairs": pairs,
            "balanced_n15_pairs": int(n**1.5 / 2),
            "wall_sec": round(time.monotonic() - t0, 2),
        }
        print(
            f"  {label}x{k}: n={n} k={kk} pairs={pairs} "
            f"(balanced n^1.5/2 = {int(n**1.5 / 2)}, "
            f"max cell {int(agg.max_cell)})",
            flush=True,
        )
    spark.stop()

    slope = float(
        np.polyfit(np.log(np.array(ns)), np.log(np.array(works)), 1)[0]
    )
    law = {
        "points": points,
        "fitted_exponent": round(slope, 3),
        "exponent_cut": EXPONENT_CUT,
        "ok": slope <= EXPONENT_CUT,
    }

    stress_path = f"{REPO}/STRESS.json"
    out = {}
    if os.path.exists(stress_path):
        with open(stress_path) as fh:
            out = json.load(fh)
    out["semdedup_law"] = law
    with open(stress_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(
        f"\nwrote semdedup_law to STRESS.json — fitted exponent "
        f"{slope:.3f} (cut {EXPONENT_CUT}) "
        f"{'OK' if law['ok'] else '** OVER **'}"
    )
    return 0 if law["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
