"""Output check of one ``run_mailing_job`` call, run outside the timed
interval.

A run passes when:

- ``result.metrics`` equals the data-row counts of the written files
  (every product lands in a human file and in exactly one robot slot, so
  the sums must match) and reports no audit leaks;
- the archive exists;
- no human or robot file holds a blocklisted status in any cell: the
  laudo invariant of ``pipeline.audit``, checked in Python on every run
  (the Spark laudo ``audit_output_dir`` costs two Spark jobs per file, so
  the traced run runs it once per process; see README.md);
- the digest of the published files equals the first run's digest of the
  same inputs. ``run_time`` is pinned by the caller, so file names repeat;
  the ``Data_de_Importacao`` column stamps ``current_date`` and is masked.

Human files are digested in file order, because their priority row order
is part of the product's contract (CPF is the last sort key, so the order
is total). Robot and rejected files come out of hash aggregations with no
defined row order, so their lines are digested sorted.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

MASKED_COLUMNS = ("Data_de_Importacao",)
REJECTED_NAME = "rejeitados_por_status_de_bloqueio.csv"


def _file_lines(
    path: Path, sep: str, ordered: bool, blocked: set[str]
) -> tuple[list[str], int, int]:
    """(digest lines, data rows, cells holding a blocked status)."""
    header, *body = path.read_text(encoding="utf-8").splitlines()
    leaks = sum(
        cell.strip().lower() in blocked for line in body for cell in line.split(sep)
    )
    cols = header.split(sep)
    masked = [i for i, c in enumerate(cols) if c in MASKED_COLUMNS]
    if masked:
        rows = []
        for line in body:
            cells = line.split(sep)
            for i in masked:
                cells[i] = ""
            rows.append(sep.join(cells))
        body = rows
    return [header] + (body if ordered else sorted(body)), len(body), leaks


def digest_outputs(
    output_dir: Path, blocklist: list[str]
) -> tuple[str, dict[str, int], int]:
    """(hex digest, data rows per sink family, leaked cells) of a run's
    published CSVs. The rejects report holds blocked statuses by
    definition and is not scanned for leaks."""
    h = hashlib.sha256()
    rows = {"human": 0, "robot": 0, "rejected": 0}
    blocked = {b.strip().lower() for b in blocklist}
    leaks = 0
    files = sorted(p for p in output_dir.rglob("*.csv"))
    for path in files:
        rel = path.relative_to(output_dir).as_posix()
        if rel.startswith("humano/"):
            kind, sep, ordered = "human", ";", True
        elif rel.startswith("robo/"):
            kind, sep, ordered = "robot", "|", False
        elif rel == REJECTED_NAME:
            kind, sep, ordered = "rejected", ";", False
        else:
            raise ValueError(f"unexpected output file {rel}")
        lines, n, bad = _file_lines(path, sep, ordered, set() if kind == "rejected" else blocked)
        rows[kind] += n
        leaks += bad
        h.update(rel.encode() + b"\0" + "\n".join(lines).encode() + b"\0")
    return h.hexdigest(), rows, leaks


def check_run(
    result, output_dir: Path, blocklist: list[str], reference: str | None
) -> tuple[str, list[str], dict[str, int]]:
    """Return (digest, problems, data rows per sink family); no problems
    means the run passed."""
    digest, rows, leaks = digest_outputs(output_dir, blocklist)
    problems = [f"{leaks} blocked statuses leaked into the outputs"] if leaks else []
    if result.metrics != {**rows, "audit_leaks": 0}:
        problems.append(f"metrics {result.metrics} != file rows {rows}")
    if result.archive is None or not Path(result.archive).is_file():
        problems.append("archive missing")
    if reference is not None and digest != reference:
        problems.append("outputs differ from the first run of these inputs")
    return digest, problems, rows
