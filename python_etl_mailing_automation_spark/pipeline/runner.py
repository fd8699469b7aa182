"""The ``main.py``-equivalent job runner (SURVEY.md §3.1, stages 1-5).

Reference lifecycle: load → validate → process → export human/robot →
(re-read/rewrite repairs) → zip + state. Engine lifecycle: the repairs are
part of the one lazy plan (pipeline/export.py), so the stages collapse to
load → validate → process → write → publish → state → archive. Each sink
family (human, robot, rejects) is ONE Spark write into a staging dir,
whatever the number of products or slots; the files move to their
reference names only after every write has succeeded.

The stage count table and the run's metrics are observed on the family
writes (stage.py); only ``base``, the pre-blocklist frame, is persisted.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..detach import held
from ..schema import normalize_column_names, validate_required_columns
from ..sources.discovery import find_latest_file
from ..sources.io import (
    archive_run,
    read_csv_stringly,
    sanitize_filename,
    write_exact_csv,
    write_partitioned_by_key,
)
from ..sources.state import StateManager, VolumeOutlier, detect_volume_outliers
from ..stage import ProcessReport, observe_rows, observed
from .audit import audit_no_blocked_status, leak_predicate
from .export import apply_export_layout
from .mailing import process_mailing
from .report import render_run_report
from .robot import SLOT_COL, build_robot_output, route_by_time_slot, time_slots


@dataclass
class JobResult:
    human_files: list[Path] = field(default_factory=list)
    robot_files: list[Path] = field(default_factory=list)
    rejected_file: Path | None = None
    archive: Path | None = None
    metrics: dict = field(default_factory=dict)
    volume_outliers: list[VolumeOutlier] = field(default_factory=list)
    report: "ProcessReport | None" = None
    rendered_report: str | None = None


def _load_input(
    spark: SparkSession,
    input_dir: str | Path,
    pattern: str,
    *,
    optional: bool = False,
    all_sheets: bool = False,
) -> DataFrame | list[DataFrame] | None:
    """S1 discovery + format-dispatched load (CSV native and distributed;
    Excel, the reference's input format, via the driver shim when
    available).

    ``all_sheets=True`` returns a LIST of frames: every sheet of a
    workbook (the reference loads the Pontuação enrichment with
    ``sheet_name=None`` and concatenates all sheets,
    data_loader.py:30-35,57-61), or a one-element list for single-frame
    formats.
    """
    path = find_latest_file(input_dir, pattern, optional=optional)
    if path is None:
        return None
    suffix = path.suffix.lower()
    if suffix in (".csv", ".txt"):
        df = read_csv_stringly(spark, path)
    elif suffix in (".xlsx", ".xls"):
        from ..sources import excel

        loaded = excel.read_excel(
            spark, path, sheet_name=None if all_sheets else 0
        )
        if isinstance(loaded, dict):
            return [normalize_column_names(s) for s in loaded.values()]
        df = loaded
    else:
        raise ValueError(f"unsupported input format: {path}")
    df = normalize_column_names(df)
    return [df] if all_sheets else df


def run_mailing_job(
    spark: SparkSession,
    config: PipelineConfig,
    *,
    input_dir: str | Path,
    output_dir: str | Path,
    mailing_pattern: str = "MAILING_NUCLEO_*",
    enrichment_pattern: str = "Pontua*",
    regras_pattern: str = "Tabula*",
    state_path: str | Path | None = None,
    make_archive: bool = False,
    counted_report: bool = False,
    run_time: datetime | None = None,
) -> JobResult:
    """End-to-end run: mirrors ``main.py:23-95`` stage for stage.

    ``result.report`` always holds the reference's per-stage count
    table; ``counted_report=True`` only renders it
    (``result.rendered_report``) and changes nothing Spark runs.

    Robot files are named ``{prefix}{slot}_{date}.csv``: the reference's
    ``{prefix}{slot}_{HHMMSS}_{ddmmyyyy}.csv``
    (gerador_robo_mestre.py:126-135) without the HHMMSS component, so
    re-runs overwrite deterministically (idempotent batch jobs).
    ``run_time`` pins the date for reproducible tests; default is now().
    """
    output_dir = Path(output_dir)
    result = JobResult()

    # Stage 1 — load + validate (schema contract aborts the run, like the
    # reference's SchemaValidationError path, main.py:46).
    mailing = _load_input(spark, input_dir, mailing_pattern)
    validate_required_columns(
        mailing, config.required_mailing_columns, source_name="mailing"
    )
    # Enrichment is a potentially multi-sheet workbook: EVERY sheet feeds
    # the phone union (data_loader.py:30-35,57-61 + union_all_by_name).
    enrichment_sheets = _load_input(
        spark, input_dir, enrichment_pattern, optional=True, all_sheets=True
    )
    regras = _load_input(spark, input_dir, regras_pattern, optional=True)
    if regras is not None:
        validate_required_columns(
            regras, config.required_tabulacoes_columns, source_name="tabulacoes"
        )

    # Stage 2 — the composed pipeline (one lazy DAG).
    res = process_mailing(
        mailing,
        config,
        enrichment_sheets=enrichment_sheets,
        regras_disposicao=regras,
        dedup_tiebreaker="ucv" if "ucv" in mailing.columns else None,
    )

    # Stage 3+4 — exports with formatting folded pre-write (no re-reads).
    # Row order inside each file = the reference's priority sort (O1),
    # computed on the PRE-layout frame (processing_pipeline.py:274 sorts
    # numeric valorDivida before the exporter string-formats it): the sort
    # keys ride along as __ord_* carrier columns through the layout and
    # are dropped after the in-partition sort, never rendered.
    human = res.human
    human_types = dict(human.dtypes)
    carriers: dict[str, F.Column] = {}
    order_by = []
    if "priority_level" in human_types:
        carriers["__ord_priority"] = F.col("priority_level")
        order_by.append(F.col("__ord_priority").asc())
    if human_types.get("valorDivida", "").split("(")[0] in (
        "double", "float", "int", "bigint", "smallint", "decimal"
    ):
        carriers["__ord_divida"] = F.col("valorDivida")
        order_by.append(F.col("__ord_divida").desc())
    if "CPF" in human_types:  # stable tiebreaker → deterministic files
        carriers["__ord_cpf"] = F.col("CPF")
        order_by.append(F.col("__ord_cpf").asc())
    if carriers:
        human = human.withColumns(carriers)
    # Formatting always runs (the reference formats money/dates even when
    # the column filter is unreadable, data_exporter.py:36-54); projection
    # only applies when a layout is configured.
    human = apply_export_layout(
        human, config.human_export_columns, carry_columns=list(carriers)
    )
    drop_after_sort = list(carriers)
    if not config.human_export_columns and "priority_level" in human.columns:
        # No layout → all columns kept; the reference still drops the
        # synthetic priority level post-sort (processing_pipeline.py:275).
        drop_after_sort.append("priority_level")

    robot = build_robot_output(res.robot, config) if "dtvenc" in res.robot.columns else res.robot
    robot = apply_export_layout(robot, config.robot_export_columns, robot_money=True)

    # Stage 6 (laudo) and the metrics ride on the family writes: observed
    # on the frames the sinks get (before the human sink's blank-key filter
    # and the robot's slot routing); the laudo skips the sort carriers.
    audited = human.drop(*carriers)
    leaks = F.count_if(leak_predicate(audited, config.blocklist))
    human, human_obs = observe_rows(human, leaks=leaks)
    robot, robot_obs = observe_rows(robot)
    rejected, rejected_obs = observe_rows(res.rejected)

    # Reference-shaped output names, driven by config:
    # human  {output_file_prefix}mailing_{produto}_{date}.csv
    #        (data_exporter.py:57-64)
    # robot  {robot_prefix}{slot}_{date}.csv
    now = run_time if run_time is not None else datetime.now()
    date_str = now.strftime(config.output_date_format)
    human_name = f"{config.output_file_prefix}mailing_{{key}}_{date_str}.csv"
    slots = time_slots(config)
    robot_final = [
        output_dir / "robo"
        / f"{config.robot_output_file_prefix}{sanitize_filename(slot)}_{date_str}.csv"
        for slot in slots
    ]

    # Atomic publish: every family writes into one staging dir; files move
    # to their final names only once every write below has succeeded, so a
    # failed run leaves the previous outputs (and the state, saved after the
    # move) untouched. The staging dir is gone before the archive zips it.
    output_dir.mkdir(parents=True, exist_ok=True)
    with held() as hold, tempfile.TemporaryDirectory(prefix=".staging_", dir=output_dir) as tmp:
        staging = Path(tmp)
        # Every family write branches from ``base``: persist it so the
        # mailing DAG executes ONCE (SURVEY.md §3.4 — the reference
        # materialized implicitly by being eager pandas, main.py:46-67).
        hold(res.base)
        human_staged = write_partitioned_by_key(
            human, staging / "humano", "PRODUTO",
            filename_template=human_name, order_by=order_by or None,
            drop_after_sort=drop_after_sort or None,
        ) if "PRODUTO" in human.columns else [
            write_exact_csv(
                human, staging / "humano" / human_name.format(key="geral"),
                order_by=order_by or None, drop_after_sort=drop_after_sort or None,
            )
        ]
        robot_staged = write_partitioned_by_key(
            route_by_time_slot(robot, config), staging / "robo", SLOT_COL,
            sep="|", keys=slots, drop_after_sort=[SLOT_COL],
        )
        rejected_staged = write_exact_csv(  # S8 side output
            rejected, staging / "rejeitados_por_status_de_bloqueio.csv"
        )

        # Epilogue — metrics (observed by the writes above)/state (+ zip).
        result.metrics = {
            "human": observed(human_obs, "rows", human.count),
            "robot": observed(robot_obs, "rows", robot.count),
            "rejected": observed(rejected_obs, "rows", rejected.count),
            "audit_leaks": observed(human_obs, "leaks", lambda: audit_no_blocked_status(
                audited, config.blocklist).count()),
        }
        result.report = res.stages.report()

        result.human_files = [output_dir / p.relative_to(staging) for p in human_staged]
        result.robot_files = robot_final
        result.rejected_file = output_dir / rejected_staged.name
        for src, dst in [
            *zip(human_staged, result.human_files),
            *zip(robot_staged, robot_final),
            (rejected_staged, result.rejected_file),
        ]:
            dst.parent.mkdir(parents=True, exist_ok=True)
            os.replace(src, dst)
    last_metrics: dict = {}
    if state_path is not None:
        sm = StateManager(state_path)
        # Run-over-run outlier diff vs the last successful run
        # (logger_setup.py:47-77) BEFORE overwriting the state.
        last_metrics = sm.last_metrics()
        result.volume_outliers = detect_volume_outliers(result.metrics, last_metrics)
        sm.save_success(result.metrics)
    if counted_report:
        result.rendered_report = render_run_report(
            result.report,
            current_metrics=result.metrics,
            last_metrics=last_metrics,
            attention_points=[
                f"{o.metric.upper()}: volume {o.pct_change:+.2f}% vs última execução"
                for o in result.volume_outliers
            ],
        )
    if make_archive:
        result.archive = archive_run(output_dir)
    return result
