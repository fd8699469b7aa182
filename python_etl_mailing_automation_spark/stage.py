"""Per-stage row-count instrumentation (SURVEY.md §3.4).

The reference appends ``{name, initial, removed, final, message}`` per
operator to a process report (processing_pipeline.py:313-347). Here each
stage frame carries a ``DataFrame.observe`` row count instead: the counts
are collected by the same action that writes the outputs, so the report
is on for every run and costs no Spark job of its own. Read it only
after an action has run the observed frames — an observation blocks
until the first action over it finishes.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observe_rows(df: DataFrame, **extra: Column) -> tuple[DataFrame, Observation]:
    """``df`` observing its row count ``rows`` (plus ``extra`` aggregates)."""
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("rows"), *(c.alias(k) for k, c in extra.items())]
    return df.observe(obs, *metrics), obs


def observed(obs: Observation, metric: str, fallback: Callable[[], int]) -> int:
    """``metric`` of ``obs``. When the observed frame is empty, AQE's
    empty-relation propagation can cut the observe node out of the plan,
    leaving an empty row; only then run ``fallback``, a count action."""
    values = dict(obs._jo.getAsJava())
    return int(values[metric]) if metric in values else fallback()


@dataclass
class StageReport:
    name: str
    initial: int
    final: int
    message: str = ""

    @property
    def removed(self) -> int:
        return self.initial - self.final


@dataclass
class ProcessReport:
    stages: list[StageReport] = field(default_factory=list)

    def as_rows(self) -> list[dict]:
        return [
            {
                "etapa": s.name,
                "registros_iniciais": s.initial,
                "removidos": s.removed,
                "registros_finais": s.final,
                "mensagem": s.message,
            }
            for s in self.stages
        ]


@dataclass
class StageCounts:
    """Row counts of a chain of stage frames, observed on the run itself."""

    # (name, message, frame, observation, field holding the frame's count)
    stages: list[tuple[str, str, DataFrame, Observation, str]] = field(default_factory=list)

    def observe(self, df: DataFrame, name: str, message: str, **extra: Column) -> DataFrame:
        """Attach a row count (plus ``extra`` aggregates for :meth:`derive`)
        to ``df``; use the returned frame downstream."""
        df, obs = observe_rows(df, **extra)
        self.stages.append((name, message, df, obs, "rows"))
        return df

    def derive(self, df: DataFrame, name: str, message: str, metric: str) -> None:
        """Record stage ``df``, counted by the previous observation's ``metric``."""
        self.stages.append((name, message, df, self.stages[-1][3], metric))

    def report(self) -> ProcessReport:
        """The process report; call it after an action has run the frames."""
        report, prev = ProcessReport(), None
        for name, message, frame, obs, metric in self.stages:
            n = observed(obs, metric, frame.count)
            report.stages.append(StageReport(name, n if prev is None else prev, n, message))
            prev = n
        return report
