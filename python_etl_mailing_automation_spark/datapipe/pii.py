"""PII detection and redaction for training-data curation.

The reference's domain is debt-collection mailing — rows are keyed by CPF
and carry phone numbers (processing_pipeline.py:168-182 spreads phones,
config.ini schemas name the CPF/phone columns), so a corpus built from
this kind of data must scrub exactly these identifiers before training.

Scale posture: a single projection of chained ``regexp_count`` /
``regexp_replace`` expressions — per-row column algebra, no shuffle, full
whole-stage codegen; at 100 TB this runs at parquet-scan speed. Patterns
are deliberately RE2-compatible (no lookaround, no backreferences) so the
same strings run on Spark (java.util.regex), DuckDB (RE2), and any future
native scan filter.

Each pattern is counted on the text as it stands *after* the previous
categories were redacted, then replaced — so overlapping categories
(a CPF is also three dotted digit groups like an IPv4) never double-count:
order in ``PII_PATTERNS`` is specificity order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, RE2-and-Java-compatible pattern, replacement token) in
# specificity order: email first (contains dots/digits), then CPF
# (dotted digit groups — must precede the looser IPv4), then phone,
# then IPv4.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("cpf", r"\b\d{3}\.\d{3}\.\d{3}-\d{2}\b", "<CPF>"),
    ("phone", r"\(\d{2}\)\s?\d{4,5}-\d{4}", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    *,
    patterns: Sequence[tuple[str, str, str]] = PII_PATTERNS,
    out_col: str = "redacted",
    count_prefix: str = "n_",
) -> DataFrame:
    """Redact every PII category and report per-category match counts.

    Adds ``{count_prefix}{name}`` (int) per pattern plus ``out_col`` with
    all categories replaced by their tokens. One projection; the
    intermediate texts are common subexpressions Catalyst materializes
    once per row.
    """
    cur: Column = F.col(text_col)
    counts: list[Column] = []
    for name, pat, token in patterns:
        counts.append(
            F.regexp_count(cur, F.lit(pat)).cast("int").alias(f"{count_prefix}{name}")
        )
        cur = F.regexp_replace(cur, pat, token)
    return df.select("*", *counts, cur.alias(out_col))


def pseudonymize(
    df: DataFrame,
    cols: Sequence[str],
    *,
    salt: str = "",
    prefix_len: int = 16,
) -> DataFrame:
    """Deterministic pseudonymization: each listed column's value is
    replaced by the first ``prefix_len`` hex chars of
    ``md5(col_name || '|' || salt || '|' || value)`` — the
    privacy-preserving analytics transform that keeps JOINABILITY
    (equal values map to equal tokens, per column) while removing the
    identifier itself. NULLs stay NULL (a pseudonym would leak
    "was present").

    The per-column name in the hash input keeps tokens UNLINKABLE
    across columns (the same phone appearing in two different columns
    yields different tokens); a secret ``salt`` defeats dictionary
    attacks — rotate it to break linkability between releases, keep it
    fixed to allow longitudinal joins. md5 here is a pseudonym
    generator, not a security boundary: with the salt public, a brute
    dictionary over low-entropy identifiers (CPFs are 11 digits)
    reverses it — treat the salt as a key.

    Scale: pure per-row projection, zero shuffle, codegen'd.
    """
    out = df
    for c in cols:
        token = F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{c}|{salt}|"), F.col(c).cast("string")
                )
            ),
            1,
            prefix_len,
        )
        out = out.withColumn(
            c, F.when(F.col(c).isNotNull(), token)
        )
    return out
