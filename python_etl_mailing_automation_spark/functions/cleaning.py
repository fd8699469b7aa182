"""String/number cleaning expressions.

Reference parity (SURVEY.md §2.8):
- F1  mojibake repair        — reference ``processing_pipeline.py:16-25``
- F2  phone cleaning         — reference ``processing_pipeline.py:27-31``
- F3  BR-decimal to double   — reference ``processing_pipeline.py:38-40``
- F6  BOM strip              — reference ``data_loader.py:39-40``
- F7  ``.0``-suffix strip    — reference ``processing_pipeline.py:58-59``
- F13 digit purge            — reference ``compressor.py:73-84``
- F15 key normalization      — reference ``processing_pipeline.py:79-80``

All are pure Catalyst expressions except ``mojibake_repair_udf``; the UDF is
only needed when the corrupted-form universe is open-ended — when it is
config-enumerated (as in the reference blocklist, ``config.ini:120-137``),
``mojibake_repair_expr`` keeps the whole plan in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def clean_phone_number(col: Column | str) -> Column:
    """F2: strip a trailing ``.0``, drop all non-digits, empty → null.

    Parity with ``_clean_phone_number`` (processing_pipeline.py:27-31),
    expressed as built-ins so it vectorizes JVM-side instead of the
    reference's per-row ``Series.apply``. The digit class is ``\\p{Nd}``,
    not ``[0-9]``: the reference's Python-``re`` ``\\D`` is Unicode-aware
    (keeps e.g. Arabic-Indic digits), and Java's bare ``\\d`` is
    ASCII-only — property testing surfaced the divergence on exotic
    Unicode digits.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("string")
    c = F.regexp_replace(c, r"\.0$", "")
    c = F.regexp_replace(c, r"[^\p{Nd}]", "")
    return F.nullif(c, F.lit(""))


def safe_to_double(col: Column | str) -> Column:
    """F3: BR decimal-comma string → double; junk → null.

    ``'1.234,56'`` style is normalized (thousands dot dropped, comma →
    decimal point) then ``try_cast`` coerces, mirroring pandas
    ``to_numeric(errors='coerce')`` (processing_pipeline.py:38-40).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("string")
    # Drop thousands separators only when a decimal comma is present,
    # mirroring the BR-format reparse in formatador_dados.py:11-28.
    has_comma = c.contains(",")
    normalized = F.when(
        has_comma, F.regexp_replace(F.regexp_replace(c, r"\.", ""), ",", ".")
    ).otherwise(c)
    return normalized.try_cast("double")


def strip_bom(col: Column | str) -> Column:
    """F6: remove U+FEFF byte-order marks from values (data_loader.py:39-40)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "﻿", "")


def strip_dot_zero(col: Column | str) -> Column:
    """F7: drop a float-cast artifact ``.0`` suffix from id-ish strings.

    The reference fights this in five places (SURVEY.md §1.2) because Excel
    reads float-ify ids; the Spark engine keeps integer types end-to-end so
    this is only needed when ingesting stringly-typed legacy data.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c.cast("string"), r"\.0$", "")


def digits_only(col: Column | str) -> Column:
    """F13: keep digits only (CPF purge, compressor.py:73-84).

    ``\\p{Nd}`` for parity with the reference's Unicode-aware Python
    ``\\D`` — see :func:`clean_phone_number`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c.cast("string"), r"[^\p{Nd}]", "")


def normalize_key(col: Column | str) -> Column:
    """F15: join/compare key normalization: str → trim → lower.

    Parity with ``astype(str).str.strip().str.lower()``
    (processing_pipeline.py:79-80,87,146,159,268).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c.cast("string")))


def mojibake_repair_expr(col: Column | str, known_pairs: dict[str, str]) -> Column:
    """F1 (codegen path): repair mojibake via an enumerated replace chain.

    When the corrupted universe is known (the reference's config blocklist
    enumerates corrupted forms, config.ini:120-137) a bounded replace chain
    keeps whole-stage codegen. ``known_pairs`` maps corrupted → repaired.
    """
    c = F.col(col) if isinstance(col, str) else col
    for bad, good in known_pairs.items():
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


@F.udf(returnType=StringType())
def mojibake_repair_udf(value):
    """F1 (general path): latin1→utf8 round-trip repair, fallback to input.

    Exact parity with ``_sanitize_encoding`` (processing_pipeline.py:16-25):
    fixes e.g. ``'AÃ‡ÃƒO'`` → ``'AÇÃO'``. Only Python UDF in the engine —
    use only off the hot path or behind the expr variant.
    """
    if value is None:
        return None
    try:
        return value.encode("latin1").decode("utf-8")
    except (UnicodeDecodeError, UnicodeEncodeError):
        return value
