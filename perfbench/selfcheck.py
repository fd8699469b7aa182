#!/usr/bin/env python3
"""Self-checks of the benchmark harness.

    python3 perfbench/selfcheck.py

1. The same seed gives byte-identical inputs; another seed gives
   different ones.
2. A tiny-size smoke run of every workload goes through the untraced
   run, the traced run, the event-log fold and the output check, and
   prints exactly the metrics ``BENCHMARK.json`` names.
3. The traced run's layer spans never sum past its wall: ``run.py``
   reports a run whose spans do as incorrect, and the residual is
   checked non-negative here.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from gen import generate  # noqa: E402
from run import WORKLOADS  # noqa: E402

SMOKE_SCALE = 0.02


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def check_inputs(work: Path) -> None:
    for w in WORKLOADS.values():
        small = w.scaled(SMOKE_SCALE)
        a, b, c = (work / f"{w.name}-{tag}" for tag in "abc")
        generate(small, 1, a)
        generate(small, 1, b)
        generate(small, 2, c)
        if _files(a) != _files(b):
            raise AssertionError(f"{w.name}: seed 1 gave different inputs twice")
        if _files(a) == _files(c):
            raise AssertionError(f"{w.name}: seeds 1 and 2 gave the same inputs")
    print("inputs: same seed identical, other seed different")


def smoke(spec: dict) -> None:
    names = {
        0: [m["name"] for m in spec["end_to_end"]],
        1: [m["name"] for m in spec["per_layer"]],
    }
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--scale", str(SMOKE_SCALE)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True, timeout=300)
            if proc.returncode != 0:
                raise AssertionError(f"{w} trace={trace}: exit {proc.returncode}")
            out = json.loads(proc.stdout.splitlines()[-1])
            if not out["correct"] or out["failed"]:
                raise AssertionError(f"{w} trace={trace}: {proc.stdout}")
            if sorted(out["metrics"]) != sorted(names[trace]):
                raise AssertionError(f"{w} trace={trace}: metric names differ from BENCHMARK.json")
            if trace and out["metrics"]["runner.residual_s"]["value"] < 0:
                raise AssertionError(f"{w}: layer spans sum past the run's wall")
            print(f"smoke {w} trace={trace}: ok, {out['attempted']} runs")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench" / "selfcheck"
    shutil.rmtree(work, ignore_errors=True)
    try:
        check_inputs(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    smoke(spec)
    print("selfcheck ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
