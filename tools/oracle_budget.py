#!/usr/bin/env python
"""Per-query ORACLE runtime budget (verdict r8 #7).

The driver's correctness gate runs each ``oracle_sql()`` entry in DuckDB
at sf0.01 with a per-query timeout; an oracle that is itself quadratic
can blow that budget even when the ENGINE side is fine (r8 example:
the ktruss unrolled-triangle oracle at 69 s vs the engine's 3.4 s).
This tool times every oracle at the gate scale and fails if any single
oracle exceeds ``--budget-sec`` (default 30), so oracle cost is a CI'd
contract rather than a surprise in the driver's window.

Usage:
    python tools/oracle_budget.py [--sf-dir /root/testdata/sf0.01]
        [--budget-sec 30] [--only name[,name]] [--json out.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_parity import oracle_connection  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01"),
    )
    ap.add_argument("--budget-sec", type=float, default=30.0)
    ap.add_argument("--only", default=None)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    con = oracle_connection(args.sf_dir)

    oracles = entry_mod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            con.sql(sql).df()
        except Exception as exc:  # noqa: BLE001 - report, keep sweeping
            errors[name] = f"{type(exc).__name__}: {exc}"
        timings[name] = round(time.time() - t0, 3)

    ranked = sorted(timings.items(), key=lambda kv: -kv[1])
    print(f"{'oracle':40s} {'sec':>8s}")
    for name, sec in ranked[:25]:
        flag = "  <-- OVER BUDGET" if sec > args.budget_sec else ""
        print(f"{name:40s} {sec:8.2f}{flag}")
    total = round(sum(timings.values()), 2)
    print(f"\n{len(timings)} oracles, total {total:.1f}s, "
          f"slowest {ranked[0][0]} at {ranked[0][1]:.1f}s" if ranked else "no oracles")
    for name, err in errors.items():
        print(f"ERROR {name}: {err}")

    if args.json:
        with open(args.json, "w") as fh:
            json.dump(
                {
                    "sf_dir": args.sf_dir,
                    "budget_sec": args.budget_sec,
                    "total_sec": total,
                    "oracles": dict(ranked),
                    "errors": errors,
                },
                fh,
                indent=1,
            )

    over = [n for n, s in ranked if s > args.budget_sec]
    if over:
        print(f"\nFAIL: {len(over)} oracle(s) over the {args.budget_sec:.0f}s "
              f"budget: {over}")
        return 1
    if errors:
        return 1
    print("\nall oracles within budget")
    return 0


if __name__ == "__main__":
    sys.exit(main())
