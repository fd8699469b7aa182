#!/usr/bin/env python
"""Time individual battery queries with the bench's methodology.

Runs the named ``__spark_entry__.queries()`` entries through the noop
sink on ``local[$SPARK_GRAFT_CPUS]`` with the bench's between-run state
release (clearCache + Python gc + JVM System.gc), printing best-of-N and
the full spread. Optionally dumps ``explain("formatted")`` for each
query to a directory — the artifact the plans/<round>/ before/after
files are made of.

This is the optimization inner loop (guide §1: measure first, isolate
with the noop sink, re-measure after each change) without paying for a
full 258-query sweep per iteration.

Usage:
    python tools/qtime.py --only set_cover,longest_dup_run [--runs 3]
        [--sf-dir /root/testdata/sf0.1] [--explain-dir plans/r10 --suffix before]
        [--explain-only]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", required=True, help="comma-separated query names")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="after", help="explain file suffix (before/after)")
    ap.add_argument("--explain-only", action="store_true", help="skip timing")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from bench import release_state, run_noop
    from python_etl_mailing_automation_spark.session import build_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = entry_mod.queries()
    names = [n.strip() for n in args.only.split(",") if n.strip()]
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    if not args.explain_only:
        # warm-up (JVM + codegen), same as bench.py
        spark.sparkContext.setJobDescription("qtime: warm-up")
        run_noop(spark, qs["per_key_windowed_sum"], args.sf_dir)
        release_state(spark)

    for name in names:
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = qs[name](spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            path = os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"explain -> {path}")
        if args.explain_only:
            continue
        times = []
        for i in range(args.runs):
            release_state(spark)
            spark.sparkContext.setJobDescription(f"qtime: {name} run {i}")
            times.append(round(run_noop(spark, qs[name], args.sf_dir), 3))
        print(f"{name}: min={min(times)} spread={times}")


if __name__ == "__main__":
    main()
