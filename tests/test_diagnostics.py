"""Diagnostics trio (profile/drift), stage reporting, Excel shim."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.pipeline.diagnostics import (
    profile_unique_values,
    schema_drift,
)
from python_etl_mailing_automation_spark.stage import ProcessReport, StageCounts


def test_profile_unique_values(spark):
    df = spark.createDataFrame(
        [("A", "x"), ("A", "y"), ("B", None)], "bloq string, just string"
    )
    prof = {
        (r["column"], r["value"]): r["n_rows"]
        for r in profile_unique_values(df, ["bloq", "just", "missing"]).collect()
    }
    assert prof[("bloq", "A")] == 2
    assert prof[("bloq", "B")] == 1
    assert prof[("just", None)] == 1
    with pytest.raises(ValueError):
        profile_unique_values(df, ["nope"])


def test_schema_drift(spark):
    base = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    new = spark.createDataFrame([(1, 3, 4)], "a int, c int, d int")
    d = schema_drift(base, new)
    assert d.added == ["d"] and d.removed == ["b"] and not d.reordered
    assert d.has_drift
    swapped = spark.createDataFrame([(2, 1)], "b int, a int")
    d2 = schema_drift(base.select("a", "b"), swapped)
    assert d2.reordered and d2.has_drift
    assert not schema_drift(base, base).has_drift


def test_stage_report_counts(spark):
    """Observed stage counts build the reference's process report rows;
    a derived stage reads an extra metric of the previous observation."""
    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    stages = StageCounts()
    df = stages.observe(df, "carga", "")
    out = stages.observe(
        df.filter(F.col("v") < 3), "filtro", "teste", low=F.count_if(F.col("v") < 1)
    )
    stages.derive(out.filter(F.col("v") < 1), "baixo", "", "low")
    assert out.count() == 3  # the one action; the report adds none
    report = stages.report()
    assert isinstance(report, ProcessReport)
    rows = report.as_rows()
    assert rows[1] == {
        "etapa": "filtro",
        "registros_iniciais": 10,
        "removidos": 7,
        "registros_finais": 3,
        "mensagem": "teste",
    }
    assert [(r["etapa"], r["registros_iniciais"], r["registros_finais"]) for r in rows] == [
        ("carga", 10, 10), ("filtro", 10, 3), ("baixo", 3, 1),
    ]


def test_stage_counts_survive_empty_relation_propagation(spark):
    """The job runner's shape: persist the last stage frame, then run an
    action whose result is empty. AQE replaces the emptied plan, which
    can drop the observe nodes in it; the report must still equal direct
    counts of the stage frames."""
    from pyspark.sql import Window

    rows = spark.createDataFrame([(i % 3, i) for i in range(3)], "c long, v long")
    bad = spark.createDataFrame([(0,), (1,), (2,)], "c long")
    stages = StageCounts()
    df = stages.observe(rows, "carga", "")
    df = stages.observe(df.join(F.broadcast(bad), "c", "left_anti"), "anti", "")
    df = stages.observe(df.withColumn("w", F.sum("v").over(Window.partitionBy("c"))), "janela", "")
    df.persist()
    try:
        assert df.select("c").distinct().collect() == []
        report = stages.report()
    finally:
        df.unpersist()
    assert [(s.initial, s.final) for s in report.stages] == [(3, 3), (3, 0), (0, 0)]


def test_excel_shim_roundtrip(spark, tmp_path):
    pd = pytest.importorskip("pandas")
    pytest.importorskip("openpyxl")
    from python_etl_mailing_automation_spark.sources.excel import read_excel

    path = tmp_path / "Pontuação_test.xlsx"
    with pd.ExcelWriter(path, engine="openpyxl") as xw:
        pd.DataFrame({" Documento ": ["d1"], "TELEFONE": ["84999"]}).to_excel(
            xw, sheet_name="Aba1", index=False
        )
        pd.DataFrame({"documento": ["d2"], "telefone": [None]}).to_excel(
            xw, sheet_name="Aba2", index=False
        )
    sheets = read_excel(spark, path, sheet_name=None)
    assert set(sheets) == {"Aba1", "Aba2"}
    assert sheets["Aba1"].columns == ["documento", "telefone"]  # P1 normalize
    assert sheets["Aba1"].first()["documento"] == "d1"
    assert sheets["Aba2"].first()["telefone"] is None


def test_profile_cardinality_hll(spark, sf_dir):
    from python_etl_mailing_automation_spark.pipeline.diagnostics import (
        profile_cardinality,
    )
    from python_etl_mailing_automation_spark.sources import read_table

    orders = read_table(spark, sf_dir, "orders")
    prof = {
        r["column"]: r
        for r in profile_cardinality(
            orders, ["o_custkey", "o_orderstatus", "missing"]
        ).collect()
    }
    assert set(prof) == {"o_custkey", "o_orderstatus"}
    assert prof["o_orderstatus"]["exact_distinct"] == 3
    for r in prof.values():  # HLL within 10% of exact at rsd=0.05
        err = abs(r["approx_distinct"] - r["exact_distinct"]) / max(r["exact_distinct"], 1)
        assert err <= 0.10
