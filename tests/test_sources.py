"""Sources/sinks: discovery, exact-filename CSV sinks, state store,
nanos-timestamp reader."""

from __future__ import annotations

import csv
import os
import time

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
    from python_etl_mailing_automation_spark.sources.io import read_csv_stringly

    p = tmp_path / "legacy.csv"
    p.write_text("CPF;VALOR\n123;45,6\n", encoding="utf-8")
    df = read_csv_stringly(spark, p)
    assert df.dtypes == [("CPF", "string"), ("VALOR", "string")]
    assert df.first()["VALOR"] == "45,6"


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
    archive = archive_run(run_dir)
    assert archive == tmp_path / "run_dia.zip" and archive.exists()
    import zipfile

    names = zipfile.ZipFile(archive).namelist()
    assert names == ["Mailing_EPB.csv"]


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


    # plan never funnels through a single-partition global sort: the
    # writer is range-exchange + per-partition sort by construction
