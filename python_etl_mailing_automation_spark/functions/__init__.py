"""Scalar column-expression library (SURVEY.md §2.8).

Everything here is built from `pyspark.sql.functions` built-ins so it stays
inside Catalyst/whole-stage codegen; the one exception is the mojibake
repair UDF (F1), which also has a codegen-friendly regexp-chain variant.
"""

from .cleaning import (  # noqa: F401
    clean_phone_number,
    digits_only,
    mojibake_repair_expr,
    mojibake_repair_udf,
    normalize_key,
    safe_to_double,
    strip_bom,
    strip_dot_zero,
)
from .dates import format_date_br, parse_date_br  # noqa: F401
from .flags import conditional_flag_sim_nao  # noqa: F401
from .money import format_money_br, format_money_robot  # noqa: F401
