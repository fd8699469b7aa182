"""Table readers and exact-filename CSV sinks (SURVEY.md §2.1).

- ``read_table`` — parquet scan with nanosecond-timestamp normalization
  (Spark cannot read parquet TIMESTAMP(NANOS); with
  ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as a long
  which this reader converts back to a timestamp).
- ``write_exact_csv`` / ``write_partitioned_by_key`` — the reference's
  sinks name each output file exactly (one CSV per product / time-slot
  group, data_exporter.py:58-68, gerador_robo_mestre.py:120-138). Spark
  writes directories of parts, so the exact-name contract is: write into
  a temp dir, then rename each single part. A single file is a
  ``coalesce(1)`` write; a family of files (one per key) is ONE
  ``write.partitionBy`` job whose ``key=<v>/part-*.csv`` outputs are
  renamed to their reference names — the family costs one scan of its
  input whatever the number of keys.
"""

from __future__ import annotations

import glob
import shutil
import tempfile
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType


def nanos_to_timestamp(col: str) -> Column:
    """Convert an epoch-nanos long column to a timestamp (µs precision).

    Uses integer division (`div`) — a float division would lose precision
    for nanosecond epochs, which exceed 2^53.
    """
    return F.expr(f"timestamp_micros({col} div 1000)")


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    nanos_ts_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet``; convert known nanos-long
    timestamp columns back to timestamps.

    Defensively pins the two runtime confs correctness depends on, so
    results are identical under ANY caller-provided session (the driver
    harness builds its own): nanos parquet timestamps must arrive as
    longs (Spark cannot read TIMESTAMP(NANOS) natively), and timestamp
    rendering must be UTC-stable.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # Engine semantics are coerce-to-null (the reference's
        # errors='coerce'); Spark 4 defaults ANSI on, which turns junk
        # casts into exceptions.
        spark.conf.set("spark.sql.ansi.enabled", "false")
    except Exception:
        pass  # conf locked down — proceed with whatever the session has
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in nanos_ts_cols:
        field = next((f for f in df.schema.fields if f.name == c), None)
        if field is not None and isinstance(field.dataType, LongType):
            df = df.withColumn(c, nanos_to_timestamp(c))
    # Canonicalize TIMESTAMP_NTZ → TIMESTAMP: parquet written with
    # isAdjustedToUTC=false reads back NTZ under Spark's default NTZ
    # inference, and half the timestamp builtins (unix_micros, ...) only
    # accept TIMESTAMP. Session TZ is pinned UTC above, so the cast is an
    # exact identity on the underlying microseconds.
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, TimestampNTZType):
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


def read_csv_stringly(
    spark: SparkSession,
    path: str | Path,
    *,
    sep: str = ";",
    encoding: str = "UTF-8",
) -> DataFrame:
    """S4: all-string CSV scan (legacy stage-4/5 inputs).

    Parity with the reference's ``read_csv(dtype=str, encoding='utf-8-sig')``
    re-reads (formatador_dados.py:49, compressor.py:30). The engine never
    re-reads its own outputs (repairs are pre-write), but external stringly
    CSV feeds enter here; typed coercion (F3/F4) runs as column expressions
    afterwards.
    """
    return (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("encoding", encoding)
        .option("inferSchema", False)
        .csv(str(path))
    )


def sanitize_filename(name: str) -> str:
    """F14: keep alphanumerics/space/underscore/dash for output filenames
    (data_loader.py:86)."""
    return "".join(c for c in str(name) if c.isalnum() or c in " _-").strip()


def archive_run(output_dir: str | Path) -> Path:
    """S9: zip the run's output folder next to it (compressor.py:87-118).
    Driver-side epilogue, not a Spark concern."""
    output_dir = Path(output_dir)
    # S11: drop any artifact whose *filename* carries a BOM (compressor.py:12-23);
    # unnecessary when writes are clean UTF-8, kept for legacy dirs.
    for p in output_dir.iterdir():
        if "﻿" in p.name or "ï»¿" in p.name:
            p.unlink()
    return Path(shutil.make_archive(str(output_dir), "zip", str(output_dir)))


def _csv_writer(df: DataFrame, *, sep: str):
    """The sinks' one CSV dialect: UTF-8 with a header row; nulls and
    empty strings render as '' (reference ``na_rep=''``,
    data_exporter.py:68)."""
    return (
        df.write.mode("overwrite")
        .option("sep", sep)
        .option("encoding", "UTF-8")
        .option("header", "true")
        .option("nullValue", "")
        .option("emptyValue", "")
    )


def write_exact_csv(
    df: DataFrame,
    out_path: str | Path,
    *,
    sep: str = ";",
    order_by: list | None = None,
    drop_after_sort: list[str] | None = None,
) -> Path:
    """Write a small DataFrame to exactly ``out_path`` as one CSV file:
    ``coalesce(1)`` → write a temp dir → rename its single part. An empty
    frame gives a header-only file.

    Nulls render as '' (reference ``na_rep=''``, data_exporter.py:68).
    ``order_by`` (list of Columns) fixes the row order inside the file —
    the reference's priority sort exists precisely for this
    (processing_pipeline.py:253-275): agents work the file top-down.
    Sorting happens via ``sortWithinPartitions`` on the single coalesced
    partition — ordered output without a cluster-wide global sort.
    ``drop_after_sort`` names sort-only carrier columns (e.g. the numeric
    debt kept alongside its string-formatted render) projected away after
    the sort, mirroring the reference's sort-then-drop
    (processing_pipeline.py:274-275); a projection preserves
    partition-local row order. For one file per key value use
    :func:`write_partitioned_by_key`, which writes them all in one job.
    """
    out_path = Path(out_path)
    out_path.parent.mkdir(parents=True, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="csv_sink_", dir=str(out_path.parent))
    single = df.coalesce(1)
    if order_by:
        single = single.sortWithinPartitions(*order_by)
    if drop_after_sort:
        single = single.drop(*drop_after_sort)
    try:
        _csv_writer(single, sep=sep).csv(str(Path(tmp) / "d"))
        part = glob.glob(str(Path(tmp) / "d" / "part-*.csv"))[0]
        shutil.move(part, out_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out_path


_PART_KEY = "__part_key"


def write_partitioned_by_key(
    df: DataFrame,
    out_dir: str | Path,
    key_col: str,
    *,
    filename_template: str = "{key}.csv",
    sep: str = ";",
    order_by: list | None = None,
    drop_after_sort: list[str] | None = None,
    keys: list[str] | None = None,
) -> list[Path]:
    """S6/S7: one exactly-named CSV per key value, all from ONE Spark
    write (the reference loops over distinct products,
    data_exporter.py:58-68).

    A carrier copy of ``key_col`` (cast to string) tags every row;
    ``repartition(carrier).sortWithinPartitions(carrier, *order_by)``
    puts each key's rows, in file order, into one task, and
    ``write.partitionBy(carrier)`` writes ``carrier=<v>/part-*.csv`` into
    a temp dir under ``out_dir``. Each part then moves to
    ``filename_template.format(key=v)``, ``v`` unescaped from the
    directory name; a key directory holding anything but exactly one part
    file raises. ``key_col`` itself stays in the file; drop it via
    ``drop_after_sort`` when it is only a routing tag. The input is
    scanned once whatever the number of keys.

    Blank/null keys are skipped (P8 guard, data_exporter.py:61). The
    returned paths are in sorted key order. ``keys`` instead fixes the
    files to write and their order; a listed key without rows gets a
    header-only file, as a ``coalesce(1)`` write of its empty filter
    would give.

    ``order_by``/``drop_after_sort`` are as in :func:`write_exact_csv`.
    """
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    key = F.col(key_col).cast("string")
    tagged = df.withColumn(_PART_KEY, key).filter(~key.rlike(r"(?U)^\s*$"))
    out = tagged.repartition(F.col(_PART_KEY)).sortWithinPartitions(
        F.col(_PART_KEY), *(order_by or [])
    )
    if drop_after_sort:
        out = out.drop(*drop_after_sort)
    tmp = Path(tempfile.mkdtemp(prefix="csv_sink_", dir=str(out_dir)))
    try:
        # maxRecordsPerFile=0 overrides any session cap: one part per key.
        _csv_writer(out, sep=sep).option("maxRecordsPerFile", 0).partitionBy(
            _PART_KEY
        ).csv(str(tmp / "d"))
        parts: dict[str, Path] = {}
        for d in (tmp / "d").glob(f"{_PART_KEY}=*"):
            found = [p for p in d.iterdir() if not p.name.startswith(".")]
            if len(found) != 1 or not found[0].name.startswith("part-"):
                raise RuntimeError(
                    f"expected exactly one part file in {d}, found "
                    f"{sorted(p.name for p in found)}"
                )
            parts[unquote(d.name[len(_PART_KEY) + 1 :])] = found[0]
        if any(k not in parts for k in keys or []):
            # Every file of the family has the same header: read it off a
            # written part or, when the whole family is empty, off one
            # header-only write of the empty frame.
            src = next(iter(parts.values()), None) or write_exact_csv(
                tagged.drop(_PART_KEY, *(drop_after_sort or [])).limit(0),
                tmp / "empty.csv", sep=sep,
            )
            with open(src, "rb") as f:
                header = f.readline()
        written = []
        for k in sorted(parts) if keys is None else keys:
            path = out_dir / filename_template.format(key=k)
            path.parent.mkdir(parents=True, exist_ok=True)
            if k in parts:
                shutil.move(parts[k], path)
            else:
                path.write_bytes(header)
            written.append(path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return written


def compaction_plan(
    manifest: DataFrame,
    *,
    file_col: str = "file_id",
    size_col: str = "bytes",
    target_bytes: int,
    scope_col: str | None = None,
) -> DataFrame:
    """Small-file compaction planner: assign each input file to an
    output bin by greedy in-order packing — a file starts a new bin
    when the running total crosses a ``target_bytes`` boundary, so
    every bin except possibly the last holds at least ``target_bytes``
    minus one file and files are never split. The read-side cure for
    the small-files problem: feed it a table listing (lots of tiny
    parquet) files and get back which files co-compact into each
    right-sized output.

    Bin id is ``cum_before div target`` with ``cum_before`` the exact
    BIGINT prefix sum of sizes before this file — deterministic,
    integer-only, and order-stable (files are packed in
    ``(scope, file_id)`` order so the same manifest always yields the
    same plan). Returns the manifest columns plus ``bin`` (0-based,
    per scope).

    Scale shape: the manifest is METADATA (one row per file — bounded
    by file count, not data volume), so the prefix-sum window is
    cheap; with ``scope_col`` (partition directory, date, source) the
    window partitions by scope and packing parallelizes across scopes,
    which is the 100 TB posture — a single global sequential pack is
    exactly what a petabyte-scale table layout can't serialize.
    """
    if target_bytes < 1:
        raise ValueError("compaction_plan: target_bytes must be >= 1")
    scope = [scope_col] if scope_col is not None else []
    w = (
        Window.partitionBy(*scope)
        .orderBy(F.col(file_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(F.col(size_col).cast("long")).over(w) - F.col(
        size_col
    ).cast("long")
    # BIGINT `div`, never float division: exact at any byte magnitude
    return (
        manifest.withColumn("__cum_before", cum_before)
        .withColumn(
            "bin",
            F.expr(f"__cum_before div {int(target_bytes)}").cast("long"),
        )
        .drop("__cum_before")
    )
