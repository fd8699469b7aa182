"""Sources/sinks: discovery, exact-filename CSV sinks, state store,
nanos-timestamp reader."""

from __future__ import annotations

import csv
import os
import time
from pathlib import Path

import pytest

from python_etl_mailing_automation_spark.sources import (
    StateManager,
    find_latest_file,
    read_table,
    write_exact_csv,
)
from python_etl_mailing_automation_spark.sources.discovery import InputFileNotFoundError
from python_etl_mailing_automation_spark.sources.io import write_partitioned_by_key


def test_find_latest_file(tmp_path):
    old = tmp_path / "MAILING_NUCLEO_old.xlsx"
    new = tmp_path / "MAILING_NUCLEO_new.xlsx"
    old.write_text("x")
    new.write_text("y")
    past = time.time() - 1000
    os.utime(old, (past, past))
    assert find_latest_file(tmp_path, "MAILING_NUCLEO_*.xlsx") == new
    assert find_latest_file(tmp_path, "missing*", optional=True) is None
    with pytest.raises(InputFileNotFoundError):
        find_latest_file(tmp_path, "missing*")


def test_write_exact_csv_single_file_null_as_empty(spark, tmp_path):
    df = spark.createDataFrame([("a", None), ("b", "x")], "k string, v string")
    out = write_exact_csv(df, tmp_path / "exact.csv", sep=";")
    assert out.name == "exact.csv" and out.exists()
    rows = list(csv.reader(out.open(encoding="utf-8"), delimiter=";"))
    assert rows[0] == ["k", "v"]
    assert sorted(rows[1:]) == [["a", ""], ["b", "x"]]
    assert len(list(tmp_path.glob("*"))) == 1  # no stray part dirs


def test_write_partitioned_by_key_skips_blank(spark, tmp_path):
    df = spark.createDataFrame(
        [("EPB", 1), ("EMT", 2), (None, 3), ("  ", 4)], "produto string, v int"
    )
    written = write_partitioned_by_key(
        df, tmp_path, "produto", filename_template="Mailing_{key}.csv"
    )
    assert [p.name for p in written] == ["Mailing_EMT.csv", "Mailing_EPB.csv"]


def test_write_partitioned_by_key_escaped_values_round_trip(spark, tmp_path):
    """Spark escapes these characters in partition directory names; each
    file still lands at the name the per-key loop gave it, with the key
    column kept in the file."""
    values = ["A B", "50%", "08:00", "k=v", "SÃO"]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(values)], "produto string, v int"
    )
    written = write_partitioned_by_key(
        df, tmp_path, "produto", filename_template="Mailing_{key}.csv"
    )
    assert written == [tmp_path / f"Mailing_{v}.csv" for v in sorted(values)]
    for i, v in enumerate(values):
        text = (tmp_path / f"Mailing_{v}.csv").read_text(encoding="utf-8")
        assert text == f"produto;v\n{v};{i}\n"
    assert sorted(tmp_path.iterdir()) == sorted(written)  # no temp dir left


def test_write_partitioned_by_key_listed_keys(spark, tmp_path):
    """``keys`` fixes the files and their order: unlisted keys are not
    written, a listed key without rows gets the header-only file a
    ``write_exact_csv`` of its empty filter gives — also when the whole
    frame is empty."""
    df = spark.createDataFrame(
        [("EPB", 1, "x"), ("EMT", 2, "y")], "k string, v int, tag string"
    )
    written = write_partitioned_by_key(
        df, tmp_path / "a", "tag", sep="|", keys=["y", "none"],
        drop_after_sort=["tag"],
    )
    assert written == [tmp_path / "a" / "y.csv", tmp_path / "a" / "none.csv"]
    assert written[0].read_text(encoding="utf-8") == "k|v\nEMT|2\n"
    header_only = write_exact_csv(
        df.filter("tag = 'none'").drop("tag"), tmp_path / "empty.csv", sep="|"
    )
    assert written[1].read_bytes() == header_only.read_bytes() == b"k|v\n"
    assert sorted(p.name for p in (tmp_path / "a").iterdir()) == ["none.csv", "y.csv"]

    (empty,) = write_partitioned_by_key(
        df.filter("v > 9"), tmp_path / "b", "tag", sep="|", keys=["x"],
        drop_after_sort=["tag"],
    )
    assert empty.read_bytes() == b"k|v\n"
    assert list((tmp_path / "b").iterdir()) == [empty]


def test_state_manager_roundtrip(tmp_path):
    sm = StateManager(tmp_path / "state.json")
    assert sm.load() == {}
    sm.save_success({"human": 10, "robot": 4})
    assert sm.last_metrics() == {"human": 10, "robot": 4}
    assert sm.load()["status"] == "success"
    sm.save_failure()
    assert sm.load()["status"] == "failure"


def test_read_table_converts_nanos_ts(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert events.count() > 0


def test_read_csv_stringly_and_peek(spark, tmp_path):
    from python_etl_mailing_automation_spark.sources.io import (
        peek_columns,
        read_csv_stringly,
    )

    p = tmp_path / "legacy.csv"
    p.write_text("CPF;VALOR\n123;45,6\n", encoding="utf-8")
    df = read_csv_stringly(spark, p)
    assert df.dtypes == [("CPF", "string"), ("VALOR", "string")]
    assert df.first()["VALOR"] == "45,6"
    assert peek_columns(spark, p, sep=";") == ["CPF", "VALOR"]


def test_sanitize_filename_and_archive(spark, tmp_path):
    from python_etl_mailing_automation_spark.sources.io import (
        archive_run,
        sanitize_filename,
    )

    assert sanitize_filename("EPB/RO*BO: 08h?") == "EPBROBO 08h"
    run_dir = tmp_path / "run_dia"
    run_dir.mkdir()
    (run_dir / "Mailing_EPB.csv").write_text("a;b\n")
    (run_dir / "﻿ghost.csv").write_text("x")  # BOM-named artifact
    log = tmp_path / "run.log"
    log.write_text("log line")
    archive = archive_run(run_dir, extra_files=[log], remove_dir=True)
    assert archive.name == "run_dia.zip" and archive.exists()
    assert not run_dir.exists()
    import zipfile

    names = zipfile.ZipFile(archive).namelist()
    assert "Mailing_EPB.csv" in names and "run.log" in names
    assert not any("ghost" in n for n in names)


def test_volume_outlier_detection():
    from python_etl_mailing_automation_spark.sources.state import (
        detect_volume_outliers,
    )

    prev = {"human": 100, "robot": 100, "status": "success"}
    cur = {"human": 150, "robot": 110, "extra": 5}
    out = {o.metric: o.pct_change for o in detect_volume_outliers(cur, prev)}
    assert out == {"human": 50.0}  # +50% flagged, +10% not, non-numeric skipped
    zero = detect_volume_outliers({"human": 5}, {"human": 0})
    assert zero[0].pct_change == float("inf")


def test_register_views_sql_surface(spark, sf_dir):
    from python_etl_mailing_automation_spark.sources.io import register_views

    register_views(spark, sf_dir)
    row = spark.sql(
        "SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
        " AS total FROM orders GROUP BY o_custkey ORDER BY total DESC LIMIT 1"
    ).first()
    assert row["total"] > 0
    assert spark.sql("SELECT COUNT(*) c FROM events").first()["c"] > 0


def test_write_jsonl_shards_roundtrip_and_order(spark, tmp_path):
    """The JSONL training export: every shard directory holds its docs in
    the deterministic permutation order (pos), the union round-trips
    exactly, and the same salt reproduces the same layout."""
    import json
    from pathlib import Path

    from python_etl_mailing_automation_spark.sources.io import write_jsonl_shards

    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(40)], "doc_id long, text string"
    )
    out = tmp_path / "export"
    n = write_jsonl_shards(docs, out, 4)
    assert n == 4
    shard_dirs = sorted(p.name for p in Path(out).glob("shard=*"))
    assert len(shard_dirs) == 4

    seen = []
    for d in sorted(Path(out).glob("shard=*")):
        rows = []
        for f in sorted(d.glob("part-*")):
            rows += [json.loads(line) for line in f.read_text().splitlines()]
        # in-file order IS the permutation order
        assert [r["pos"] for r in rows] == sorted(r["pos"] for r in rows)
        assert [r["pos"] for r in rows] == list(range(len(rows)))
        seen += [r["doc_id"] for r in rows]
    assert sorted(seen) == list(range(40))

    # reproducible layout
    out2 = tmp_path / "export2"
    write_jsonl_shards(docs, out2, 4)
    for d in ("shard=0", "shard=1", "shard=2", "shard=3"):
        a = b"".join(f.read_bytes() for f in sorted((Path(out) / d).glob("part-*")))
        c = b"".join(f.read_bytes() for f in sorted((Path(out2) / d).glob("part-*")))
        assert a == c


def test_write_sized_parquet_rolls_files_and_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from python_etl_mailing_automation_spark.sources.io import write_sized_parquet

    df = spark.range(100).withColumn(
        "grp", (F.col("id") % 2).cast("string")
    ).repartition(2, "grp")
    out = tmp_path / "sized"
    write_sized_parquet(
        df, out, max_records_per_file=20, partition_by="grp", sort_within="id"
    )
    back = spark.read.parquet(str(out))
    assert back.count() == 100
    assert sorted(p.name for p in out.iterdir() if p.name.startswith("grp=")) == [
        "grp=0", "grp=1"
    ]
    # 50 rows per partition dir at <=20 rows/file -> at least 3 files each
    for d in ("grp=0", "grp=1"):
        files = [p for p in (out / d).iterdir() if p.suffix == ".parquet"]
        assert len(files) >= 3


def test_write_globally_sorted_replays_order(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from python_etl_mailing_automation_spark.sources.io import (
        write_globally_sorted,
    )

    df = spark.range(0, 1000).select(
        (999 - F.col("id")).alias("k"), F.col("id").alias("payload")
    )
    out = tmp_path / "sorted"
    write_globally_sorted(df, out, sort_cols=["k"], n_ranges=8)
    # files listed lexicographically (range=00000, 00001, ...) replay
    # the global ascending order of k
    seen = []
    for d in sorted(glob.glob(str(out / "range=*"))):
        part = spark.read.parquet(d)
        seen.extend(r.k for r in part.collect())
    assert seen == sorted(seen) and len(seen) == 1000
    # plan never funnels through a single-partition global sort: the
    # writer is range-exchange + per-partition sort by construction


def test_sized_parquet_rowgroup_stats_actually_prune(spark, tmp_path):
    """Hard evidence for the sink's data-skipping claim, read from the
    parquet FOOTERS with pyarrow: with sort_within, row-group min/max
    envelopes are narrow (a point predicate prunes most row groups);
    without it, every row group spans ~the full value range and
    nothing prunes."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from python_etl_mailing_automation_spark.sources.io import (
        write_sized_parquet,
    )

    df = (
        spark.range(0, 40000)
        .select((F.col("id") * 37 % 40000).alias("k"))
        .repartition(2)
    )

    def envelopes(d):
        spans = []
        for f in Path(d).glob("*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(0).statistics
                spans.append((st.min, st.max))
        return spans

    write_sized_parquet(
        df, tmp_path / "sorted", max_records_per_file=5000, sort_within="k"
    )
    write_sized_parquet(
        df, tmp_path / "unsorted", max_records_per_file=5000
    )
    sorted_spans = envelopes(tmp_path / "sorted")
    unsorted_spans = envelopes(tmp_path / "unsorted")
    assert len(sorted_spans) >= 4 and len(unsorted_spans) >= 4

    def prunable(spans, point=12345):
        return sum(1 for lo, hi in spans if point < lo or point > hi)

    # sorted: the point lies in ~1 envelope per task; unsorted: in all
    assert prunable(sorted_spans) >= len(sorted_spans) - 2
    assert prunable(unsorted_spans) == 0
    # sorted envelopes are narrow (each 5000-row file spans ~1/4 of a
    # task's range); unsorted span ~the full range
    avg_sorted = sum(hi - lo for lo, hi in sorted_spans) / len(sorted_spans)
    avg_unsorted = sum(hi - lo for lo, hi in unsorted_spans) / len(unsorted_spans)
    assert avg_sorted * 3 < avg_unsorted
