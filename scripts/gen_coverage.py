#!/usr/bin/env python
"""Regenerate COVERAGE.md from the live query registry.

Run after adding operators: `python scripts/gen_coverage.py`.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from layer_apache_hive_spark.registry import _REGISTRY, _load_all_modules  # noqa: E402

GROUPS = [
    ("Scans / sources / sinks (§2.1)", ("scan_", "sink_", "sample_")),
    ("Projection / filter / predicates / subqueries (§2.2)", ("project_", "filter_", "expr_", "subq_", "query_")),
    ("Joins (§2.3)", ("join_",)),
    ("Aggregations (§2.4)", ("agg_",)),
    ("Window functions (§2.5)", ("win_",)),
    ("Sorts / limits / top-k (§2.6)", ("sort_", "limit_", "topk")),
    ("Set operations (§2.7)", ("set_",)),
    ("Scalar functions (§2.8)", ("fn_",)),
    ("UDF / UDAF / UDTF / TRANSFORM (§2.9)", ("udf_", "udaf_", "udtf_", "transform_")),
    ("Events / time / streaming (§2.10)", ("evt_",)),
    ("Extensions: dedup / similarity / text / multimodal (§2.11)", ("ext_",)),
    ("DDL / metadata / stats (§2.12)", ("ddl_",)),
    ("Composite (TPC-H-shaped)", ("composite_",)),
]


def main() -> None:
    _load_all_modules()
    seen = set()
    lines = [
        "# COVERAGE — SURVEY.md §2 implementation status",
        "",
        "Generated by `scripts/gen_coverage.py` from the live registry;",
        "every row is a `queries()` entry the driver runs. *oracle* =",
        "value-hash-matched against DuckDB at sf0.01; *rows-only* =",
        "non-SQL-expressible (streaming, probabilistic candidates,",
        "engine-specific hashes), checked for execution + row count.",
        "",
    ]
    n_oracle = 0
    for title, prefixes in GROUPS:
        ids = sorted(
            qid
            for qid in _REGISTRY
            if any(qid.startswith(p) or qid == p.rstrip("_") for p in prefixes)
        )
        if not ids:
            continue
        lines += [f"## {title}", "", "| query id | check | summary |", "| --- | --- | --- |"]
        for qid in ids:
            seen.add(qid)
            q = _REGISTRY[qid]
            kind = "oracle" if q.oracle else "rows-only"
            n_oracle += bool(q.oracle)
            doc = (q.doc or "").strip().splitlines()[0].rstrip(".") if q.doc else ""
            lines.append(f"| `{qid}` | {kind} | {doc} |")
        lines.append("")
    missing = sorted(set(_REGISTRY) - seen)
    if missing:
        lines += ["## Ungrouped", ""] + [f"- `{m}`" for m in missing] + [""]
    lines.insert(
        7,
        f"\n**{len(_REGISTRY)} queries total; {n_oracle} oracle-verified, "
        f"{len(_REGISTRY) - n_oracle} rows-only.**",
    )
    with open(f"{REPO}/COVERAGE.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"COVERAGE.md: {len(_REGISTRY)} queries, {n_oracle} with oracles")


if __name__ == "__main__":
    main()
