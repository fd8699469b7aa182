#!/usr/bin/env python
"""Whole-battery physical-plan audit: one row per registered query with
the plan-shape facts that matter at 100 TB — exchange count, join
strategies, cartesian products, window operators, Python eval nodes —
written to PLAN_AUDIT.md (and a one-line JSON summary to stdout).

This automates the per-query plan read the scale review does by hand:
a reintroduced sort-merge join, an accidental cartesian, or a Python
eval node on a hot path shows up as a diff in the committed table, not
as something a reviewer must notice. The targeted guards in
tests/test_plans.py stay the hard gate; this is the full-surface map.

Usage:
    python tools/plan_audit.py [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MARKS = [
    ("exchanges", "Exchange hashpartitioning"),
    ("bhj", "BroadcastHashJoin"),
    ("smj", "SortMergeJoin"),
    ("bnlj", "BroadcastNestedLoopJoin"),
    ("cartesian", "CartesianProduct"),
    ("window", "Window ["),
    ("wgl", "WindowGroupLimit"),
    ("py_eval", "BatchEvalPython"),
    ("arrow_eval", "ArrowEvalPython"),
]

# Every Python-side evaluation family a physical plan can carry. The
# audit counts the first two in MARKS and the pandas ones (the round-9
# heavy_hitters_mg FlatMapGroupsInPandas stage matched none of MARKS)
# into one `pandas_eval` column; tests/test_plans.py lints every family
# to zero battery-wide outside the explicit multimodal whitelist.
PYTHON_EVAL_FAMILIES = [
    "BatchEvalPython",  # row-wise Python UDF
    "ArrowEvalPython",  # scalar pandas UDF
    "FlatMapGroupsInPandas",  # applyInPandas (+WithState)
    "AggregateInPandas",  # pandas_udf group agg
    "WindowInPandas",  # pandas_udf window
    "MapInPandas",  # mapInPandas
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from python_etl_mailing_automation_spark.session import build_spark

    spark = build_spark(
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = entry_mod.queries()
    rows = []
    errors = {}
    for name, fn in qs.items():
        try:
            df = fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"
                )
            )
        except Exception as exc:  # noqa: BLE001 - audit keeps going
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        rows.append(
            {
                "query": name,
                **{k: plan.count(pat) for k, pat in MARKS},
                "pandas_eval": sum(
                    plan.count(f)
                    for f in PYTHON_EVAL_FAMILIES
                    if f.endswith("InPandas")
                ),
            }
        )

    rows.sort(key=lambda r: r["query"])
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_AUDIT.md",
    )
    with open(out, "w") as fh:
        fh.write(
            "# PLAN_AUDIT — physical plan shape of every registered "
            "query\n\nGenerated by `tools/plan_audit.py` at "
            f"`{args.sf_dir}` (plan shapes, not timings — sizes only "
            "affect broadcast thresholds). Columns: hash-partitioning "
            "exchanges, broadcast-hash / sort-merge / broadcast-nested-"
            "loop joins, cartesian products, window operators, "
            "WindowGroupLimit pushdowns, Python eval nodes, and "
            "grouped/iterator pandas stages (`pandas_eval` = "
            "MapInPandas + FlatMapGroupsInPandas[WithState] + "
            "AggregateInPandas + WindowInPandas).\n\n"
            "Reading it: `cartesian`, `py_eval`, `arrow_eval` must "
            "stay 0 everywhere; `pandas_eval` must be 0 outside the "
            "multimodal whitelist (`multimodal_pipeline`, "
            "`multimodal_frames` — Arrow-batched payload decode is "
            "the point there). `bnlj` is sanctioned only as the tiny "
            "singleton cross-join idiom (a one-row estimate/stat frame "
            "crossed into a result — never data x data). `smj` is "
            "sanctioned only for genuine large x large joins "
            "(candidate-verify joins, full-outer snapshot diffs, "
            "triangle wedge joins) where broadcast is impossible; a "
            "NEW smj appearing in a query that previously had none "
            "means a dimension join lost its broadcast — explain or "
            "revert. The committed table makes every such change a "
            "reviewable diff.\n\n"
        )
        cols = ["query"] + [k for k, _ in MARKS] + ["pandas_eval"]
        fh.write("| " + " | ".join(cols) + " |\n")
        fh.write("|" + "---|" * len(cols) + "\n")
        for r in rows:
            fh.write(
                "| " + " | ".join(str(r[c]) for c in cols) + " |\n"
            )
        if errors:
            fh.write("\nErrors:\n")
            for n, e in sorted(errors.items()):
                fh.write(f"- {n}: {e}\n")
    summary = {
        "n_queries": len(rows),
        "smj_total": sum(r["smj"] for r in rows),
        "cartesian_total": sum(r["cartesian"] for r in rows),
        "py_eval_total": sum(r["py_eval"] + r["arrow_eval"] for r in rows),
        "pandas_eval_queries": [
            r["query"] for r in rows if r["pandas_eval"]
        ],
        "bnlj_queries": [r["query"] for r in rows if r["bnlj"]],
        "errors": len(errors),
        "out": out,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
