#!/usr/bin/env python
"""Plan auditor: print .explain("formatted") for registered queries
and grep-able scale red flags.

The audit rules live in layer_apache_hive_spark/plan_audit.py and are
enforced as a regression gate by tests/test_explain_audit.py; this
script is the ad-hoc/verbose front-end.

Usage:
    python scripts/explain_audit.py [qid ...]      # default: all
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python scripts/explain_audit.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from layer_apache_hive_spark.plan_audit import audit, explain_formatted  # noqa: E402
from layer_apache_hive_spark.registry import all_queries  # noqa: E402
from layer_apache_hive_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _fingerprint(plan: str) -> dict:
    """Grep-able physical-plan facts for the committed audit table."""
    import re

    joins = sorted(
        {
            m
            for m in re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)",
                plan,
            )
        }
    )
    python_ops = sorted(
        {
            m
            for m in re.findall(
                r"(MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython|"
                r"AggregateInPandas|BatchEvalPython|FlatMapGroupsInPandasWithState)",
                plan,
            )
        }
    )
    from layer_apache_hive_spark.plan_audit import _has_global_window

    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "joins": "+".join(joins) or "—",
        "pushed_filters": bool(
            re.search(r"PushedFilters: \[[^\]]", plan)
        ),
        "python": "+".join(python_ops) or "—",
        # unpartitioned Window (single-partition input): whitelisted
        # ids show it here; anything else is an audit flag (r10)
        "global_win": _has_global_window(plan),
        # AQE formatted plans carry no codegen markers pre-execution,
        # so report the physical operator count instead (plan size)
        "n_ops": len(set(re.findall(r"^\(\d+\) ", plan, re.M))),
    }


def main() -> int:
    spark = get_spark(app_name="explain-audit")
    qs = all_queries()
    args = [a for a in sys.argv[1:] if a not in ("-v", "--summary")]
    write_summary = "--summary" in sys.argv
    ids = args or sorted(qs)
    bad = 0
    summary: list[tuple[str, object]] = []
    for qid in ids:
        try:
            df = qs[qid](spark, SF_DIR)
            plan = explain_formatted(spark, df)
        except Exception as e:  # streaming sinks etc. may not explain
            print(f"== {qid}: SKIP ({type(e).__name__})")
            summary.append((qid, None))
            continue
        flags = audit(qid, plan)
        summary.append((qid, (_fingerprint(plan), flags)))
        if flags or "-v" in sys.argv:
            bad += bool(flags)
            print(f"== {qid}: {'; '.join(flags) or 'ok'}")
            if flags:
                print(plan[:4000])
    print(f"\n{bad} flagged / {len(ids)} audited")

    if write_summary and not args:
        with open(f"{REPO}/PLAN_AUDIT.md", "w") as fh:
            fh.write(
                "# PLAN_AUDIT — physical-plan fingerprints (sf0.01)\n\n"
                "Generated by `scripts/explain_audit.py --summary`; the\n"
                "pass/fail rules live in `layer_apache_hive_spark/plan_audit.py`\n"
                "and gate CI via `tests/test_explain_audit.py`. *SKIP* =\n"
                "streaming query (no batch explain; plan quality is covered\n"
                "by the batch twin's row).\n\n"
                "| query id | exchanges | join strategy | pushed filters |"
                " python stages | global window | plan ops | audit |\n"
                "| --- | --- | --- | --- | --- | --- | --- | --- |\n"
            )
            from layer_apache_hive_spark.plan_audit import (
                GLOBAL_WINDOW_OK,
            )

            for qid, entry in summary:
                if entry is None:
                    fh.write(
                        f"| `{qid}` | — | — | — | — | — | — |"
                        " SKIP (stream) |\n"
                    )
                    continue
                fp, flags = entry
                # 'yes (whitelisted)' ONLY for ids actually on the
                # whitelist; a non-whitelisted global window prints
                # plain 'yes' next to its audit flag (r10 advisor:
                # the label must not contradict the flag on its row)
                if not fp["global_win"]:
                    gw = "—"
                elif qid in GLOBAL_WINDOW_OK:
                    gw = "yes (whitelisted)"
                else:
                    gw = "yes"
                fh.write(
                    f"| `{qid}` | {fp['exchanges']} | {fp['joins']} |"
                    f" {'yes' if fp['pushed_filters'] else '—'} |"
                    f" {fp['python']} |"
                    f" {gw} |"
                    f" {fp['n_ops']} |"
                    f" {'; '.join(flags) if flags else 'ok'} |\n"
                )
        print(f"wrote {REPO}/PLAN_AUDIT.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
