"""Per-layer tracing of one ``run_mailing_job`` call.

``LayerTracer`` wraps the layer functions that ``pipeline.runner``
imports (the same monkeypatch seam the runner tests use). Each wrapper
records a wall-clock span and sets a Spark job group named after its
layer; outside any wrapper the job group is ``runner.residual``, so the
runner's own counts, persists and state writes land there. Nothing in
the package changes.

``fold_event_log`` then reads Spark's uncompressed rolling event log and
folds jobs, stages, tasks and SQL metrics per job group.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import defaultdict
from pathlib import Path

RESIDUAL = "runner.residual"
SINKS = ("sink.human", "sink.robot", "sink.rejected")
LAYERS = ("sources.load", "mailing", "plan", *SINKS, "audit", "archive", RESIDUAL)


class LayerTracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []
        self.files: dict[str, int] = defaultdict(int)
        self.archive_bytes = 0
        self.cache_peak_bytes = 0

    def _enter(self, layer: str) -> float:
        self.sc.setJobGroup(layer, layer)
        return time.time()

    def _exit(self, layer: str, t0: float) -> None:
        self.spans.append((layer, t0, time.time()))
        self.sc.setJobGroup(RESIDUAL, RESIDUAL)
        # The persisted frames are filled by the sink writes; sampling
        # storage after each layer sees their peak.
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        self.cache_peak_bytes = max(self.cache_peak_bytes, size)

    def _wrap(self, layer, fn, on_result=None):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            t0 = self._enter(layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._exit(layer, t0)
            if on_result is not None:
                on_result(out)
            return out

        return wrapped

    def install(self, runner) -> None:
        """Patch ``runner``'s module globals; restores nothing because
        the traced run is the last job of the process."""
        for name in ("build_robot_output", "route_by_time_slot", "apply_export_layout"):
            setattr(runner, name, self._wrap("plan", getattr(runner, name)))
        runner._load_input = self._wrap("sources.load", runner._load_input)
        runner.process_mailing = self._wrap("mailing", runner.process_mailing)
        runner.write_partitioned_by_key = self._wrap(
            "sink.human", runner.write_partitioned_by_key,
            lambda paths: self.files.__setitem__("sink.human", len(paths)),
        )
        runner.archive_run = self._wrap(
            "archive", runner.archive_run,
            lambda path: setattr(self, "archive_bytes", Path(path).stat().st_size),
        )
        write_csv = runner.write_exact_csv

        def write_exact_csv(df, out_path, **kwargs):
            # The runner writes robot slots and the rejects report with
            # the same sink; the rejects file is the one at the top level.
            layer = "sink.rejected" if Path(out_path).parent.name != "robo" else "sink.robot"
            self.files[layer] += 1
            return self._wrap(layer, write_csv)(df, out_path, **kwargs)

        runner.write_exact_csv = write_exact_csv
        audit = runner.audit_no_blocked_status
        tracer = self

        class _TimedCount:
            """The runner only calls ``.count()`` on the audit frame; the
            count is the audit's one Spark action."""

            def __init__(self, df):
                self.df = df

            def count(self):
                return tracer._wrap("audit", self.df.count)()

        def audit_no_blocked_status(*args, **kwargs):
            return _TimedCount(self._wrap("audit", audit)(*args, **kwargs))

        runner.audit_no_blocked_status = audit_no_blocked_status

    def layer_walls(self) -> dict[str, float]:
        walls: dict[str, float] = defaultdict(float)
        for layer, t0, t1 in self.spans:
            walls[layer] += t1 - t0
        return walls


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def read_event_log(log_dir: Path) -> list[dict]:
    """Events of the one application logged under ``log_dir``: Spark 4
    writes a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory."""
    (app_dir,) = log_dir.glob("eventlog_v2_*")
    parts = sorted(app_dir.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    return [json.loads(line) for p in parts for line in p.read_text().splitlines() if line]


_CODEGEN = re.compile(r"WholeStageCodegen \(\d+\)")


def _index_plan(node: dict, metrics: dict[int, tuple[str, str, str]]) -> None:
    """Map each SQL-metric accumulator to (operator, metric, type). A
    codegen stage is named after its first fused operator."""
    name = node["nodeName"].strip()
    if _CODEGEN.fullmatch(name):
        first = node["children"][0]["nodeName"] if node["children"] else "?"
        name = f"WholeStageCodegen[{first}]"
    for m in node["metrics"]:
        metrics[m["accumulatorId"]] = (name, m["name"], m["metricType"])
    for ch in node["children"]:
        _index_plan(ch, metrics)


def fold_event_log(events: list[dict], groups: set[str]) -> dict:
    """Fold jobs, stages, tasks and SQL metrics per job group in ``groups``."""
    rows = {g: defaultdict(float) for g in groups}
    job_spans: dict[str, list[tuple[int, int]]] = defaultdict(list)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    metric_of: dict[int, tuple[str, str, str]] = {}
    sql = {g: defaultdict(float) for g in groups}

    def add_sql(group: str, acc_id: int, value) -> None:
        if acc_id in metric_of:
            sql[group][metric_of[acc_id][:2]] += float(value)

    for e in events:
        kind = e["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _index_plan(e["sparkPlanInfo"], metric_of)
        elif kind == "SparkListenerJobStart":
            group = e["Properties"].get("spark.jobGroup.id")
            if group not in groups:
                continue
            job_start[e["Job ID"]] = (group, e["Submission Time"])
            rows[group]["jobs"] += 1
            for s in e["Stage IDs"]:
                stage_group.setdefault(s, group)
            exec_id = e["Properties"].get("spark.sql.execution.id")
            if exec_id is not None:
                exec_group.setdefault(int(exec_id), group)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
            group, start = job_start[e["Job ID"]]
            job_spans[group].append((start, e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(e["Stage Info"]["Stage ID"])
            if group is not None:
                rows[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is None:
                continue
            m, info = e.get("Task Metrics") or {}, e["Task Info"]
            r = rows[group]
            r["tasks"] += 1
            r["executor_run_ms"] += m.get("Executor Run Time", 0)
            r["gc_ms"] += m.get("JVM GC Time", 0)
            read = m.get("Shuffle Read Metrics", {})
            r["shuffle_bytes"] += (
                read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
                + m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            )
            r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            r["max_task_ms"] = max(r["max_task_ms"], info["Finish Time"] - info["Launch Time"])
            scanned = False
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    add_sql(group, acc["ID"], acc["Update"])
                    op = metric_of.get(acc["ID"], ("",))[0]
                    scanned |= op.startswith("Scan csv") and float(acc["Update"]) > 0
            # A row-based CSV scan has no time metric of its own: count
            # the run time of the tasks that read rows from a CSV file.
            if scanned:
                r["scan_exec_ms"] += m.get("Executor Run Time", 0)
        elif kind.endswith("DriverAccumUpdates"):
            group = exec_group.get(e["executionId"])
            if group is not None:
                for acc_id, value in e["accumUpdates"]:
                    add_sql(group, acc_id, value)

    timing_scale = {"timing": 1e-3, "nsTiming": 1e-9}
    types = {key[:2]: key[2] for key in metric_of.values()}
    for g in groups:
        rows[g]["job_span_ms"] = _union_ms(job_spans[g])
        op_s = {
            f"{op}: {metric}": v * timing_scale[types[(op, metric)]]
            for (op, metric), v in sql[g].items()
            if types.get((op, metric)) in timing_scale
        }
        rows[g]["op_s"] = op_s
        rows[g]["cache_rows_read"] = sum(
            v for (op, metric), v in sql[g].items()
            if op == "InMemoryTableScan" and metric == "number of output rows"
        )
    rows["__all_job_span_ms"] = _union_ms([s for g in groups for s in job_spans[g]])
    return rows
