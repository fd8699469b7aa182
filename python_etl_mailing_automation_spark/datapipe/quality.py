"""Declarative data-contract validation — the expectation suite a
pipeline runs before trusting an input batch (the "great
expectations" shape, relationally): each constraint compiles to plain
Spark aggregates and the result is ONE small report frame
``(constraint, column, violations, n_rows)`` that is diffable across
runs and engines.

Scale shape: all row-local constraints (not_null, range, regex,
accepted values) fold into a SINGLE pass over the data — one
aggregate, zero shuffles beyond it; `unique` adds one keyed aggregate;
`fk` adds one anti-join against the dimension (broadcast when the dim
is small). Nothing collects row-level violations — at 100 TB you count
first and sample offenders separately (filter by the violated
predicate) only for the constraints that failed.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def constraint_report(
    df: DataFrame,
    constraints: list[tuple],
    *,
    fk_tables: dict[str, tuple[DataFrame, str]] | None = None,
) -> DataFrame:
    """Evaluate ``constraints`` against ``df``. Each constraint is a
    tuple:

    - ``("not_null", col)`` — NULL values violate
    - ``("range", col, lo, hi)`` — values outside [lo, hi] violate
      (NULLs are not range violations; pair with not_null)
    - ``("accepted", col, [v1, v2, ...])`` — values outside the set
      violate (NULLs pass)
    - ``("regexp", col, pattern)`` — non-matching non-NULL values
      violate
    - ``("unique", col)`` — rows beyond the first per value violate
      (count = n_rows - n_distinct, NULLs excluded)
    - ``("fk", col, ref_name)`` — non-NULL values absent from
      ``fk_tables[ref_name]`` violate

    Returns one row per constraint: ``(constraint, column, violations,
    n_rows)``. Deterministic output order is the caller's sort.
    """
    if not constraints:
        raise ValueError("constraint_report: constraints must be non-empty")
    fk_tables = fk_tables or {}
    row_aggs: list = []
    row_names: list[tuple[str, str]] = []
    extras: list[DataFrame] = []
    n_total = df.agg(F.count(F.lit(1)).cast("long").alias("__n"))

    for c in constraints:
        kind, col = c[0], c[1]
        expr = _row_local_violation(c)
        if expr is not None:
            pass
        elif kind == "unique":
            dup = (
                df.filter(F.col(col).isNotNull())
                .groupBy(col)
                .agg(F.count(F.lit(1)).alias("__c"))
                .agg(
                    F.coalesce(
                        F.sum(F.col("__c") - F.lit(1)), F.lit(0)
                    )
                    .cast("long")
                    .alias("violations")
                )
                .select(
                    F.lit("unique").alias("constraint"),
                    F.lit(col).alias("column"),
                    "violations",
                )
            )
            extras.append(dup)
            continue
        elif kind == "fk":
            _, _, ref = c
            ref_df, ref_col = fk_tables[ref]
            orphan = (
                df.filter(F.col(col).isNotNull())
                .join(
                    F.broadcast(ref_df.select(F.col(ref_col).alias(col)).distinct()),
                    on=col,
                    how="left_anti",
                )
                .agg(F.count(F.lit(1)).cast("long").alias("violations"))
                .select(
                    F.lit("fk").alias("constraint"),
                    F.lit(col).alias("column"),
                    "violations",
                )
            )
            extras.append(orphan)
            continue
        else:
            raise ValueError(f"constraint_report: unknown constraint {kind!r}")
        alias = f"__v{len(row_names)}"
        # coalesce: F.sum over ZERO rows is NULL, and an empty batch's
        # report must read "0 violations" (clean), not unknown — a
        # downstream `violations == 0` gate would otherwise never fire.
        row_aggs.append(
            F.coalesce(F.sum(F.when(expr, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(alias)
        )
        row_names.append((kind, col))

    parts: list[DataFrame] = []
    if row_names:
        # ONE aggregate scan for every row-local constraint, exploded
        # to long format (separate union branches would re-plan — and
        # re-scan — the aggregate once per constraint)
        one = df.agg(*row_aggs)
        structs = [
            F.struct(
                F.lit(kind).alias("constraint"),
                F.lit(col).alias("column"),
                F.col(f"__v{i}").alias("violations"),
            )
            for i, (kind, col) in enumerate(row_names)
        ]
        parts.append(
            one.select(F.explode(F.array(*structs)).alias("__r")).select(
                "__r.constraint", "__r.column", "__r.violations"
            )
        )
    parts.extend(extras)
    report = reduce(lambda a, b: a.unionByName(b), parts)
    return report.crossJoin(F.broadcast(n_total)).select(
        "constraint", "column", "violations", F.col("__n").alias("n_rows")
    )


def _row_local_violation(c: tuple):
    """Compile a row-local constraint tuple to its violation predicate
    — ONE implementation shared by report, gate, and offender sampler
    so the three surfaces can never disagree on what violates."""
    kind, col = c[0], c[1]
    if kind == "not_null":
        return F.col(col).isNull()
    if kind == "range":
        _, _, lo, hi = c
        return F.col(col).isNotNull() & (
            (F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi))
        )
    if kind == "accepted":
        _, _, vals = c
        return F.col(col).isNotNull() & ~F.col(col).isin(list(vals))
    if kind == "regexp":
        _, _, pat = c
        return F.col(col).isNotNull() & ~F.col(col).rlike(pat)
    return None


def constraint_offenders(
    df: DataFrame,
    constraints: list[tuple],
    *,
    id_col: str,
    k: int = 5,
    fk_tables: dict[str, tuple[DataFrame, str]] | None = None,
) -> DataFrame:
    """The drill-down :func:`constraint_report`'s scale note promises:
    up to ``k`` DETERMINISTIC example rows per violated constraint —
    ``(constraint, column, row_id, value)`` — chosen by md5(row id)
    order (id tiebreak), never "first k the scan happened to hit".
    At 100 TB you count violations first (one aggregate) and pull
    samples only for the constraints that failed; this operator is
    that second pass, and its sample set is reproducible across runs,
    engines, and partitionings.

    Same constraint grammar as the report (row-local kinds plus
    ``unique`` — rows beyond the first per duplicated value — and
    ``fk`` orphans). ``value`` is the offending column rendered as
    string (NULL for not_null violations by construction).

    Scale shape: each constraint contributes a filtered scan branch
    (violators only) tagged with its label; ONE union feeds ONE
    top-k window per (constraint, column) — WindowGroupLimit caps
    per-partition state at k. ``unique`` adds a keyed count join;
    ``fk`` an anti-join, both only over violating rows.
    """
    if not constraints:
        raise ValueError("constraint_offenders: constraints must be non-empty")
    if k < 1:
        raise ValueError("constraint_offenders: k must be >= 1")
    fk_tables = fk_tables or {}
    branches: list[DataFrame] = []

    def tag(frame: DataFrame, kind: str, col: str) -> DataFrame:
        return frame.select(
            F.lit(kind).alias("constraint"),
            F.lit(col).alias("column"),
            F.col(id_col).cast("string").alias("row_id"),
            F.col(col).cast("string").alias("value"),
        )

    for c in constraints:
        kind, col = c[0], c[1]
        expr = _row_local_violation(c)
        if expr is not None:
            branches.append(tag(df.filter(expr), kind, col))
        elif kind == "unique":
            dups = (
                df.filter(F.col(col).isNotNull())
                .groupBy(col)
                .agg(F.count(F.lit(1)).alias("__c"))
                .filter(F.col("__c") > 1)
                .select(col)
            )
            offenders = df.join(dups, on=col, how="left_semi")
            branches.append(tag(offenders, "unique", col))
        elif kind == "fk":
            _, _, ref = c
            ref_df, ref_col = fk_tables[ref]
            orphans = df.filter(F.col(col).isNotNull()).join(
                F.broadcast(
                    ref_df.select(F.col(ref_col).alias(col)).distinct()
                ),
                on=col,
                how="left_anti",
            )
            branches.append(tag(orphans, "fk", col))
        else:
            raise ValueError(
                f"constraint_offenders: unknown constraint {kind!r}"
            )
    from functools import reduce as _reduce

    allv = _reduce(lambda a, b: a.unionByName(b), branches)
    w = Window.partitionBy("constraint", "column").orderBy(
        F.md5(F.col("row_id")), F.col("row_id")
    )
    return (
        allv.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )


def contract_gate(
    df: DataFrame,
    constraints: list[tuple],
    *,
    out_col: str = "violated",
) -> DataFrame:
    """Row-level contract gate: append ``out_col`` — the LIST of
    constraint labels this row violates (empty = clean). Only
    row-local constraint kinds are accepted (``not_null``, ``range``,
    ``accepted``, ``regexp``): the gate is a pure projection with no
    cross-row state — quarantine is then a ``size(violated) > 0``
    filter into a side sink, the per-row sibling of
    :func:`constraint_report`'s counting view.
    """
    if not constraints:
        raise ValueError("contract_gate: constraints must be non-empty")
    flags = []
    for c in constraints:
        kind, col = c[0], c[1]
        expr = _row_local_violation(c)
        if expr is None:
            raise ValueError(
                f"contract_gate: constraint {kind!r} is not row-local "
                "(unique/fk need cross-row state — use constraint_report)"
            )
        flags.append(F.when(expr, F.lit(f"{kind}:{col}")))
    return df.withColumn(
        out_col,
        F.filter(F.array(*flags), lambda x: x.isNotNull()),
    )


def fd_violations(
    df: DataFrame,
    determinant_cols: list[str],
    dependent_col: str,
) -> DataFrame:
    """Functional-dependency profiling: for the candidate FD
    ``determinant_cols → dependent_col``, report every determinant
    group that witnesses a violation (more than one distinct dependent
    value), with the group's row count, distinct dependent count, and
    the lexicographic min/max dependent values as a deterministic
    example pair — the schema-discovery complement of
    :func:`constraint_report` (that checks declared row-local rules;
    this measures whether an UNdeclared key relationship actually
    holds, the first question of any inherited-table audit).

    Scale shape: one (determinant, dependent) pre-aggregate collapses
    duplicate facts map-side, then one determinant-keyed aggregate over
    the distinct pairs — state per group bounded by its distinct
    dependent values, never its row count. NULL dependents count as a
    distinct value (an FD to NULL-or-value is still a violation under
    the SQL-standard "NULL is a marker, not a value" reading we make
    explicit here: NULL != NULL, so two NULLs alone do NOT violate).
    """
    dep = F.col(dependent_col)
    pairs = df.groupBy(*determinant_cols, dependent_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    # count(dep) skips the (at most one) NULL pair-row per group, so a
    # group mapping to {NULL, 'x'} would read as 1 distinct — add the
    # NULL marker back explicitly to match the documented semantics
    # (dep_min/dep_max still ignore NULL, so the example pair for a
    # {NULL, 'x'} group is ('x', 'x'))
    out = pairs.groupBy(*determinant_cols).agg(
        F.sum("__n").cast("long").alias("n_rows"),
        (
            F.count(dep)
            + F.sum(F.when(dep.isNull(), 1).otherwise(0))
        ).cast("long").alias("n_distinct_dep"),
        F.min(dep).alias("dep_min"),
        F.max(dep).alias("dep_max"),
    )
    return out.filter(F.col("n_distinct_dep") > 1)


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    *,
    k: int = 5,
    sensitive_col: str | None = None,
) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifier columns:
    one row per QI equivalence class with its size, a ``violates_k``
    flag (size < k — the class is re-identifiable), and, when
    ``sensitive_col`` is given, the class's distinct sensitive-value
    count (its l-diversity — a k-anonymous class with one sensitive
    value still leaks that value). The release-gate audit a
    training-data pipeline runs after :func:`redact_pii` and before
    export: redaction removes direct identifiers; this measures
    whether the REMAINING columns still single people out.

    Scale shape: one keyed aggregate on the QI tuple (map-side
    combined); the l-diversity count rides the same shuffle via a
    (QI, sensitive) pre-aggregate, never a count-distinct expand.
    NULL QI values group together (SQL GROUP BY semantics) — a NULL
    birthdate is itself a quasi-identifying fact.
    """
    if sensitive_col is None:
        classes = df.groupBy(*quasi_cols).agg(
            F.count(F.lit(1)).cast("long").alias("class_size")
        )
    else:
        pre = df.groupBy(*quasi_cols, sensitive_col).agg(
            F.count(F.lit(1)).cast("long").alias("__n")
        )
        classes = pre.groupBy(*quasi_cols).agg(
            F.sum("__n").cast("long").alias("class_size"),
            F.count(F.col(sensitive_col)).cast("long").alias("l_diversity"),
        )
    return classes.withColumn(
        "violates_k", (F.col("class_size") < F.lit(int(k))).cast("int")
    )


def merkle_table_diff(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    value_cols: list[str],
    *,
    levels: int = 2,
    fanout: int = 8,
) -> DataFrame:
    """Merkle-style hierarchical table reconciliation: locate WHERE two
    table versions differ without comparing them row by row — the
    anti-entropy primitive (Dynamo/Cassandra repair, cross-region copy
    validation) that turns "are these 10^11-row tables equal, and if
    not, which key ranges changed?" into one aggregate per side plus a
    bucket-cardinality join.

    Every row folds to a 60-bit md5 digest of its NULL-safe
    canonicalized (key, values...) tuple; buckets at level l are
    ``md5(key) % fanout^l`` (so a level-l bucket's children at level
    l+1 are exactly the ids congruent to it mod fanout^l); the bucket
    digest is BIT_XOR of row digests — order-independent and
    overflow-free, so it shuffles and merges like any map-side
    combinable aggregate. Equal bucket digest + row count ⇒ the
    versions agree on that bucket's rows (up to md5-collision odds);
    a real repair descends only into mismatched parents — the emitted
    ``parent_match`` flag marks which comparisons that descent would
    have skipped.

    Returns one row per (level, bucket) present on either side:
    ``n_a``, ``n_b`` (0 when absent), ``digest_a``, ``digest_b``,
    ``match``, ``parent_match`` (NULL at level 0).

    Scale shape: each side is one map + one keyed aggregate over
    (level, bucket) — (levels+1)× row explode, map-side combined down
    to at most Σ fanout^l buckets; the compare join and the parent
    join run on bucket-cardinality frames (broadcast-sized by
    construction). No sorts, no windows, no row-level join between
    the two tables — THE point.
    """
    if levels < 1 or fanout < 2:
        raise ValueError("merkle_table_diff: levels >= 1, fanout >= 2")
    if fanout ** levels > 10_000_000:
        raise ValueError("merkle_table_diff: fanout^levels unreasonably large")

    def canon(c: str):
        return F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))

    def digests(df: DataFrame, side: str) -> DataFrame:
        row_digest = F.conv(
            F.substring(
                F.md5(F.concat_ws("\x1f", canon(key_col), *[canon(c) for c in value_cols])),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        key_hash = F.conv(
            F.substring(F.md5(canon(key_col)), 1, 8), 16, 10
        ).cast("long")
        lvl = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(l).cast("int").alias("level"),
                        F.lit(fanout ** l).cast("long").alias("m"),
                    )
                    for l in range(levels + 1)
                ]
            )
        ).alias("__lv")
        return (
            df.filter(F.col(key_col).isNotNull())
            .select(row_digest.alias("__rd"), key_hash.alias("__kh"), lvl)
            .select(
                F.col("__lv.level").alias("level"),
                F.pmod(F.col("__kh"), F.col("__lv.m")).cast("long").alias("bucket"),
                "__rd",
            )
            .groupBy("level", "bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"n_{side}"),
                F.bit_xor("__rd").alias(f"digest_{side}"),
            )
        )

    da, db = digests(a, "a"), digests(b, "b")
    match = (
        (F.coalesce("n_a", F.lit(0)) == F.coalesce("n_b", F.lit(0)))
        & (
            F.coalesce("digest_a", F.lit(0))
            == F.coalesce("digest_b", F.lit(0))
        )
    )
    cmp_ = da.join(db, ["level", "bucket"], "full_outer").select(
        "level",
        "bucket",
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        "digest_a",
        "digest_b",
        match.alias("match"),
    )
    # child at level l hangs off parent bucket = bucket % fanout^(l-1)
    pmodulus = None
    for l in range(1, levels + 1):
        pm = F.lit(fanout ** (l - 1)).cast("long")
        pmodulus = (
            F.when(F.col("level") == l, pm)
            if pmodulus is None
            else pmodulus.when(F.col("level") == l, pm)
        )
    parent = cmp_.select(
        (F.col("level") + 1).alias("__pl"),
        F.col("bucket").alias("__pb"),
        F.col("match").alias("parent_match"),
    )
    out = (
        cmp_.withColumn("__pbucket", F.pmod(F.col("bucket"), pmodulus))
        .join(
            parent,
            (F.col("level") == F.col("__pl"))
            & (F.col("__pbucket") == F.col("__pb")),
            "left",
        )
        .select(
            "level",
            "bucket",
            "n_a",
            "n_b",
            "digest_a",
            "digest_b",
            "match",
            "parent_match",
        )
    )
    return out
