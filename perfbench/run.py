#!/usr/bin/env python3
"""Benchmark of the mailing product, ``pipeline.runner.run_mailing_job``,
with state and zip archive on, on inputs generated from a seed.

    python3 perfbench/run.py --workload daily_report --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1

``--trace 0`` reports the end-to-end metrics of untraced runs;
``--trace 1`` adds one traced run and reports the per-layer metrics.
``--workload all`` runs every workload, each in its own fresh process.
The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from datetime import datetime
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

from check import check_run  # noqa: E402
from gen import BLOCKLIST, Workload, generate  # noqa: E402

# Sizes are provisional: fitted so every run ends well inside the time
# budget on a 4-core box. README.md gives the figures behind them and why
# each workload was chosen.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "daily_report", rows=20_000, cpfs=7_200, products=8, slots=3,
            corte=0.0, counted_report=True,
        ),
        Workload(
            "wide_fanout", rows=12_000, cpfs=6_000, products=24, slots=6,
            corte=0.0, counted_report=False,
        ),
        Workload(
            "bulk_backlog", rows=160_000, cpfs=40_000, products=4, slots=2,
            corte=245.0, counted_report=False,
        ),
    )
}
END_TO_END_UNITS = {
    "setup_s": "s", "job_s": "s", "rows_per_s": "1/s", "spark_jobs": "count",
    "jvm_peak_rss_mb": "MB",
}
# Pinned so that output file names repeat from run to run.
RUN_TIME = datetime(2026, 10, 16, 6, 0, 0)
MIN_SAMPLES = 1
BUDGET_S = 150
HEAP = "1g"
ROBOT_COLUMNS = [
    "CPF", "NOME_CLIENTE", "PRODUTO", "LOCALIDADE", "valorTotal",
    "telefone_01", "telefone_02", "telefone_03", "telefone_04",
    *[f"{c}_{i}" for i in (1, 2, 3) for c in ("dataVencimento", "valorParcela", "codbarra")],
    "Data_de_Importacao",
]


def _steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class Bench:
    """One fresh Spark process running one workload's jobs."""

    def __init__(self, w: Workload, work: Path, rows: int) -> None:
        from python_etl_mailing_automation_spark.config import PipelineConfig
        from python_etl_mailing_automation_spark.pipeline.mailing import PRINCIPAL_COLUMNS

        self.w, self.work, self.rows = w, work, rows
        self.cores = len(os.sched_getaffinity(0))
        self.cfg = PipelineConfig(
            blocklist=BLOCKLIST,
            priority_order=["DESLIGADO", "ATÉ 30", "SIM"],
            corte_humano_maior_igual=w.corte,
            robot_time_slot_groups=w.slot_groups(),
            human_export_columns=[*PRINCIPAL_COLUMNS, "UCs_Cliente", "Qtd_UCs"],
            robot_export_columns=ROBOT_COLUMNS,
        )
        self.spark = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.reference: str | None = None
        self.last_rows: dict[str, int] = {}
        self.laudo_s = 0.0

    def start(self, extra_conf: dict[str, str]) -> float:
        from python_etl_mailing_automation_spark.session import build_spark

        t0 = time.perf_counter()
        self.spark = build_spark(
            master=f"local[{self.cores}]", shuffle_partitions=self.cores,
            extra_conf={
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                # A fixed-size heap: G1 does not resize it, so the JVM's
                # peak RSS depends on the job, not on when the heap grew.
                "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
                **extra_conf,
            },
        )
        return time.perf_counter() - t0

    def run(self, tag: str, group: str, *, laudo: bool = False) -> float | None:
        """One job, timed; then its output check, untimed. Returns the
        wall time, or None when the job raised or failed the check."""
        from python_etl_mailing_automation_spark.pipeline.runner import run_mailing_job

        out = self.work / f"out_{tag}"
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            result = run_mailing_job(
                self.spark, self.cfg, input_dir=self.work / "in", output_dir=out,
                mailing_pattern="MAILING_NUCLEO_*.csv",
                enrichment_pattern="Pontuacao*.csv", regras_pattern="Tabulacoes*.csv",
                state_path=self.work / "state.json", make_archive=True,
                counted_report=self.w.counted_report, run_time=RUN_TIME,
            )
        except Exception as exc:  # a failed job is a measured outcome
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"{tag}: {type(exc).__name__}: {exc}")
            return None
        wall = time.perf_counter() - t0
        digest, problems, self.last_rows = check_run(
            result, out, self.cfg.blocklist, self.reference
        )
        if laudo:
            t_laudo = time.perf_counter()
            problems += self._laudo(out)
            self.laudo_s = time.perf_counter() - t_laudo
        self.reference = self.reference or digest
        shutil.rmtree(out, ignore_errors=True)
        if problems:
            self.failed += 1
            self.problems += [f"{tag}: {p}" for p in problems]
            return None
        return wall

    def _laudo(self, out: Path) -> list[str]:
        """The Spark laudo over the written files. It costs two Spark jobs
        per file, so only the traced run's process runs it."""
        from python_etl_mailing_automation_spark.pipeline.audit import audit_output_dir

        verdicts = audit_output_dir(
            self.spark, out, self.cfg.blocklist,
            robot_markers=(self.cfg.robot_output_file_prefix,),
        )
        leaks = sum(v.leaks for v in verdicts)
        return [f"laudo found {leaks} leaked rows"] if leaks or not verdicts else []

    def stamp(self) -> dict:
        return {
            "nproc": self.cores, "master": f"local[{self.cores}]",
            "spark": self.spark.version,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
        }

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            line = next(ln for ln in f if ln.startswith("VmHWM:"))
        return int(line.split()[1]) / 1024

    def jvm_gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def measure(self, seconds: int) -> tuple[dict, dict]:
        session_s = self.start({})
        cold = self.run("cold", "perfbench.cold")
        setup_s = session_s + cold if cold is not None else float("nan")
        samples, jobs = [], []
        t0 = time.perf_counter()
        i = 0
        # A warm run starts only if it should end inside the window, so
        # the number of samples does not flip from one process to the next.
        while len(samples) < MIN_SAMPLES or (
            time.perf_counter() - t0 + statistics.median(samples) <= seconds
        ):
            i += 1
            group = f"perfbench.run{i}"
            wall = self.run(str(i), group)
            if wall is not None:
                samples.append(wall)
                jobs.append(len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)))
            elif self.failed > MIN_SAMPLES:
                break
        job_s = statistics.median(samples) if samples else float("nan")
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": self.rows / job_s,
            "spark_jobs": statistics.median(jobs) if jobs else float("nan"),
            "jvm_peak_rss_mb": self.jvm_peak_rss_mb(),
        }
        info = {
            **self.stamp(),
            "jvm_gc_s": self.jvm_gc_s(),
            "job_s_samples": samples,
            "spark_jobs_samples": jobs,
        }
        return metrics, info

    def trace(self, seconds: int) -> tuple[dict, dict]:
        from python_etl_mailing_automation_spark.pipeline import runner
        from layers import LAYERS, RESIDUAL, SINKS, LayerTracer, fold_event_log, read_event_log

        events = self.work / "events"
        events.mkdir()
        session_s = self.start({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": events.as_uri(),
        })
        info = self.stamp()
        self.run("cold", "perfbench.cold", laudo=True)
        untraced = [
            w for w in (self.run(f"u{i}", "perfbench.untraced") for i in range(MIN_SAMPLES))
            if w is not None
        ]
        tracer = LayerTracer(self.spark)
        tracer.install(runner)
        wall = self.run("traced", RESIDUAL)
        wall = float("nan") if wall is None else wall
        rows_written = dict(self.last_rows)
        self.close()  # flushes the event log
        fold = fold_event_log(read_event_log(events), set(LAYERS))
        walls = tracer.layer_walls()
        spans = sum(walls.values())
        if spans > wall:
            self.problems.append(f"layer spans {spans:.3f}s exceed the run's wall {wall:.3f}s")
        walls[RESIDUAL] = wall - spans

        def row(g: str, key: str) -> float:
            return fold[g][key]

        m = {
            "session.s": session_s,
            "sources.load.s": walls["sources.load"],
            "sources.load.jobs": row("sources.load", "jobs"),
            "scan.exec_s": sum(row(g, "scan_exec_ms") for g in LAYERS) / 1e3,
            "mailing.s": walls["mailing"],
            "mailing.jobs": row("mailing", "jobs"),
            "mailing.exec_s": row("mailing", "executor_run_ms") / 1e3,
            "plan.s": walls["plan"],
        }
        written = {"sink.human": "human", "sink.robot": "robot", "sink.rejected": "rejected"}
        for g in SINKS:
            m.update({
                f"{g}.s": walls[g],
                f"{g}.jobs": row(g, "jobs"),
                f"{g}.files": tracer.files[g],
                f"{g}.exec_s": row(g, "executor_run_ms") / 1e3,
                f"{g}.max_task_s": row(g, "max_task_ms") / 1e3,
                f"{g}.gc_s": row(g, "gc_ms") / 1e3,
                f"{g}.spill_bytes": row(g, "spill_bytes"),
                f"{g}.rows_read_per_row_written":
                    row(g, "cache_rows_read") / max(1, rows_written.get(written[g], 0)),
            })
        m["sink.driver_gap_s"] = sum(walls[g] - row(g, "job_span_ms") / 1e3 for g in SINKS)
        m.update({
            "audit.s": walls["audit"],
            "audit.jobs": row("audit", "jobs"),
            "runner.residual_s": walls[RESIDUAL],
            "runner.residual_jobs": row(RESIDUAL, "jobs"),
            "archive.s": walls["archive"],
            "archive.bytes": tracer.archive_bytes,
            "cache.peak_bytes": tracer.cache_peak_bytes,
            "driver_gap_s": wall - fold["__all_job_span_ms"] / 1e3,
            "executor_run_s": sum(row(g, "executor_run_ms") for g in LAYERS) / 1e3,
            "traced_wall_s": wall,
            "tracing_overhead_s": wall - statistics.median(untraced) if untraced else float("nan"),
        })
        ops: dict[str, float] = {}
        for g in LAYERS:
            for k, v in row(g, "op_s").items():
                ops[k] = ops.get(k, 0.0) + v
        info["fold"] = {
            g: {
                "wall_s": walls[g],
                "driver_gap_s": walls[g] - row(g, "job_span_ms") / 1e3,
                **{k: v for k, v in fold[g].items() if k != "op_s"},
            }
            for g in LAYERS
        }
        info["top_operators_s"] = dict(sorted(ops.items(), key=lambda kv: -kv[1])[:8])
        return m, info

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and size the local JVM for a shared machine."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP


def _on_alarm(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {BUDGET_S}s")


def bench_one(args) -> dict:
    if not (ROOT / "python_etl_mailing_automation_spark" / "__init__.py").is_file():
        raise SystemExit(f"no python_etl_mailing_automation_spark package under {ROOT}")

    t_process = time.perf_counter()
    w = WORKLOADS[args.workload]
    if args.scale != 1.0:
        w = w.scaled(args.scale)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(BUDGET_S)
    work = ROOT / ".perfbench" / f"{w.name}-{args.seed}-{os.getpid()}"
    try:
        _isolate(work)
        rows = generate(w, args.seed, work / "in")
        bench = Bench(w, work, rows)
        try:
            steal0 = _steal_jiffies()
            metrics, info = (bench.trace if args.trace else bench.measure)(args.seconds)
            steal1 = _steal_jiffies()
            info["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        finally:
            bench.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        signal.alarm(0)
    units = END_TO_END_UNITS
    if args.trace:
        units = {k: _per_layer_unit(k) for k in metrics}
        trace_file = ROOT / ".perfbench" / f"trace-{w.name}-{args.seed}.json"
        trace_file.write_text(json.dumps({"metrics": metrics, **info}, indent=1))
        info["trace_file"] = str(trace_file.relative_to(ROOT))
    info["laudo_s"] = bench.laudo_s
    info["process_s"] = time.perf_counter() - t_process
    verdict = not bench.problems and bench.failed == 0
    print(f"# workload={w.name} seed={args.seed} rows={rows} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in info.items() if not isinstance(v, (dict, list))))
    if not args.trace:
        n = len(info["job_s_samples"])
        samples = ", ".join(f"{x:.3f}" for x in info["job_s_samples"])
        print(f"# job_s is the median of n={n} warm runs ({samples});"
              " n < 20 supports no higher percentile")
    for name, value in metrics.items():
        print(f"# {name} = {value} {units[name]}")
    for g, r in info.get("fold", {}).items():
        print(f"# fold {g}: " + " ".join(f"{k}={round(v, 4)}" for k, v in r.items()))
    for op, s in info.get("top_operators_s", {}).items():
        print(f"# top operator {op}: {s:.4f} s")
    print(f"# run_fail_frac = {bench.failed}/{bench.attempted} "
          f"output_check={'pass' if verdict else 'FAIL'}")
    for p in bench.problems:
        print(f"# problem: {p}")
    return {
        "correct": verdict,
        "attempted": bench.attempted,
        "failed": bench.failed,
        # A failed run leaves NaN timings; JSON has no NaN, so they go out as null.
        "metrics": {
            k: {"value": None if v != v else v, "unit": units[k]} for k, v in metrics.items()
        },
    }


def _per_layer_unit(name: str) -> str:
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("jobs", "files")):
        return "count"
    if name.endswith("per_row_written"):
        return "ratio"
    return "s"


def bench_all(args) -> dict:
    """Every workload in its own fresh Python+JVM process."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=BUDGET_S + 10)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"workload {name} exited with {proc.returncode}")
        one = json.loads(lines[-1])
        total["correct"] &= one["correct"]
        total["attempted"] += one["attempted"]
        total["failed"] += one["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in one["metrics"].items()})
    return total


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor; the harness self-check uses tiny sizes")
    args = p.parse_args(argv)
    result = bench_all(args) if args.workload == "all" else bench_one(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
