"""Excel ingestion shim (SURVEY.md §2.1 S2/S3).

OSS Spark has no Excel source; the reference reads its feeds with
openpyxl (data_loader.py:26-45). The shim reads workbook sheets with
pandas on the driver and parallelizes via ``createDataFrame`` (Arrow
path). Excel inputs are inherently driver-sized (a workbook is one file);
anything at data scale arrives as parquet/CSV and uses the native
distributed scans.

Import-gated: environments without pandas Excel support (openpyxl) raise
only when actually used.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def read_excel(
    spark: SparkSession,
    path: str | Path,
    *,
    sheet_name: str | int | None = 0,
) -> DataFrame | dict[str, DataFrame]:
    """Read one sheet (``sheet_name=0``) or all (``sheet_name=None``).

    Headers are lowercased/stripped (P1, data_loader.py:34,38) and all
    cells kept as strings — the engine's typed coercions (F3/F4) run as
    column expressions afterwards, not at read time.
    """
    try:
        import pandas as pd
    except ImportError as e:  # pragma: no cover
        raise ImportError("Excel ingestion requires pandas + openpyxl") from e

    raw = pd.read_excel(path, sheet_name=sheet_name, dtype=str, engine="openpyxl")

    def _one(pdf) -> DataFrame:
        pdf.columns = [str(c).strip().lower() for c in pdf.columns]
        return spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None))

    if isinstance(raw, dict):
        return {name: _one(pdf) for name, pdf in raw.items()}
    return _one(raw)
