#!/usr/bin/env python
"""Generate PLANS.md: per-query physical-plan audit over the whole
workload — exchanges, join strategies, Python-eval nodes, pushed
filters — the ".explain() and iterate" review loop as a persisted
artifact. Run: python tools/plan_audit.py [sf_dir]"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from openpolicedata_spark import get_spark, workload
    from openpolicedata_spark.plans import summarize_plan

    spark = get_spark(master="local[8]", shuffle_partitions=8,
                      app_name="opdspark-plan-audit")
    lines = [
        "# PLANS — physical-plan audit of every workload query",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Exchanges",
        "exclude AQE shuffle reads; `py` counts ArrowEvalPython /",
        "MapInPandas / MapInArrow nodes (the deliberate numpy stages);",
        "`pushed` means",
        "the scan carries PushedFilters. Plan-shape budgets for the",
        "queries that matter are ENFORCED in tests/test_plans.py — this",
        "file is the full-workload snapshot of the same review loop.",
        "",
        "Known-intentional nested-loop joins: q39 (30-id pair-list cross",
        "product feeding the verify op — the op itself takes candidate",
        "pairs), q64",
        "(5-row query side of the k-NN join; asserted sort-merge-free),",
        "q102/q107 (one-row percentile-boundary array broadcast",
        "crossJoins — the no-global-window form of ntile), q97/q108",
        "(one-row totals/vocab broadcast crossJoins), q123 (8-row",
        "signature OR-join + 28-pair cross — the pair/source frames are",
        "sketch-sized by construction),",
        "q205 (3-row snapshot-literal broadcast for the point-in-time",
        "containment join — plan-pinned to exactly one BNLJ and ≤3",
        "exchanges; a big snapshot table routes through",
        "scale.bucketed_interval_join instead).",
        "",
        "| query | exchanges | sort-merge | broadcast | nested-loop | py | pushed filters |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, fn in workload.queries().items():
        try:
            import re

            df = fn(spark, sf_dir)
            s = summarize_plan(df)
            # per-occurrence: ANY scan with a non-empty PushedFilters
            # counts (a multi-scan plan usually has filterless scans too)
            pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", s.text) \
                else "—"
            lines.append(
                f"| {name} | {s.n_exchanges} | {s.n_sortmerge_joins} "
                f"| {s.n_broadcast_joins} | {s.n_broadcast_nl_joins} "
                f"| {s.n_python_eval} | {pushed} |")
        except Exception as e:  # degenerate plans still get a row
            lines.append(f"| {name} | — | — | — | — | — | error: "
                         f"{type(e).__name__} |")
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(workload.queries())} queries)")


if __name__ == "__main__":
    main()
