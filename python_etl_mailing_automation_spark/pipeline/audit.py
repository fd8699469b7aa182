"""Output audit — the laudo invariant as a query (SURVEY.md §3.2).

Reference: ``laudo.py:108-127`` re-reads every output CSV and checks that
no blocklisted status value appears in any column. Engine version: the
same invariant as a DataFrame query over the in-memory (or re-read)
outputs — used both as a runtime auditor and as the pytest assertion.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.filters import blocked_status


def leak_predicate(output: DataFrame, blocklist: Sequence[str]) -> Column:
    """True where ANY string column of ``output`` holds a blocklisted value
    (:func:`blocked_status`: trim+lower on both sides, no joins)."""
    cond = F.lit(False)
    for f in output.schema.fields:
        if f.dataType.simpleString() == "string":
            cond = cond | blocked_status(f.name, blocklist)
    return cond


def audit_no_blocked_status(output: DataFrame, blocklist: Sequence[str]) -> DataFrame:
    """Rows of ``output`` that leak a blocklisted value; empty = invariant
    holds. One scan over the output."""
    return output.filter(leak_predicate(output, blocklist))


@dataclass
class FileAuditVerdict:
    file: Path
    leaks: int

    @property
    def clean(self) -> bool:
        return self.leaks == 0


def audit_output_dir(
    spark: SparkSession,
    output_dir: str | Path,
    blocklist: Sequence[str],
    *,
    glob: str = "**/*.csv",
    sep: str = ";",
    skip_names: Sequence[str] = ("rejeitados_por_status_de_bloqueio.csv",),
    robot_markers: Sequence[str] = ("ROBO",),
) -> list[FileAuditVerdict]:
    """The full laudo tool (laudo.py:170-186): audit every written output
    CSV for blocklist leaks, skipping the rejects report (which contains
    blocked values by definition, laudo.py:104-106). Returns a per-file
    verdict table; all-clean ⇔ every ``leaks == 0``.

    ``robot_markers``: filename substrings that identify pipe-separated
    robot outputs (the reference keys on its robot prefix,
    laudo.py:108) — pass the configured robot prefix for external dirs.
    """
    from ..sources.io import read_csv_stringly

    verdicts = []
    for path in sorted(Path(output_dir).glob(glob)):
        if path.name in skip_names:
            continue
        is_robot = any(m.upper() in path.name.upper() for m in robot_markers)
        df = read_csv_stringly(spark, path, sep="|" if is_robot else sep)
        leaks = audit_no_blocked_status(df, blocklist).count()
        verdicts.append(FileAuditVerdict(file=path, leaks=leaks))
    return verdicts


def find_latest_archive(output_dir: str | Path) -> Path | None:
    """Newest ``mailing_*.zip`` in ``output_dir`` by mtime — the archive
    the standalone laudo audits (laudo.py:72-78)."""
    candidates = sorted(
        Path(output_dir).glob("mailing_*.zip"),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    return candidates[0] if candidates else None


def audit_archive(
    spark: SparkSession,
    archive: str | Path,
    blocklist: Sequence[str],
    *,
    sep: str = ";",
    skip_names: Sequence[str] = ("rejeitados_por_status_de_bloqueio.csv",),
    robot_markers: Sequence[str] = ("ROBO",),
) -> list[FileAuditVerdict]:
    """Audit an existing run *archive*: extract the zip to a temp dir and
    run the file-level audit over every CSV inside (laudo.py:75-127 —
    the standalone 'audit what actually shipped' tool surface; the
    in-run audit happens pre-archive in the job runner).

    Raises ``zipfile.BadZipFile`` for corrupted archives, like the
    reference surfaces that case explicitly (laudo.py:88-90).
    """
    import tempfile
    import zipfile

    archive = Path(archive)
    with tempfile.TemporaryDirectory(prefix="laudo_") as tmp:
        with zipfile.ZipFile(archive, "r") as zf:
            zf.extractall(tmp)
        verdicts = audit_output_dir(
            spark, tmp, blocklist,
            sep=sep, skip_names=skip_names, robot_markers=robot_markers,
        )
    # Temp paths vanish with the context; report archive-relative names.
    return [
        FileAuditVerdict(file=archive / v.file.name, leaks=v.leaks)
        for v in verdicts
    ]
