"""End-to-end mailing pipeline test (FIXTURES.md schemas; invariants from
SURVEY.md §5: laudo blocklist leak, CPF uniqueness, valorDivida sums,
all-digit phones, segmentation partition property)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.config import PipelineConfig
from python_etl_mailing_automation_spark.pipeline import (
    audit_no_blocked_status,
    build_robot_output,
    process_mailing,
)
from python_etl_mailing_automation_spark.pipeline.robot import (
    SLOT_COL,
    route_by_time_slot,
    time_slots,
)


@pytest.fixture(scope="module")
def mailing_fixture(spark):
    rows = [
        # (empresa, ucv, nomecad, ndoc, ncpf, ano, mes, liquido, loc, sit,
        #  faixa, iu12m, valor, bloq, dtvenc, venc_maior_1ano,
        #  ind_telefone_1_valido, fone_consumidor)
        ("EPB", "U1", "Ana", "d1.0", "111", 2024, 1, "100,50", "NAT", "LIGADO",
         "Até 30", "SIM", "100,50", None, "05/01/2024", "S", "(84)91111-0001.0", None),
        ("EPB", "U2", None, "d1.0", "111", 2024, 1, "50,00", "NAT", "LIGADO",
         "Até 30", "SIM", "50,00", None, "10/01/2024", None, None, "8491111-0002"),
        ("EMT", "U3", "Bruno", "d2", "222", 2024, 1, "900,00", "CGR", "DESLIGADO",
         "Mais de 1 ano", "NÃO", "900,00", "BLOQUEADO JUDICIAL", "15/02/2024", "N",
         None, None),
        ("EMT", "U4", "Carla", "d3", "333", 2024, 1, "10,00", "CGR", "LIGADO",
         "Até 30", "NÃO", "10,00", None, "junk-date", None, None, None),
        ("EPB", "U5", "Davi", "d4", "444", 2024, 1, "70,00", "NAT", "DESLIGADO",
         "Até 90", "SIM", "70,00", None, "01/03/2024", "x", None, None),
        ("EPB", "U6", "Eva", "d5", "555", 2024, 1, "30,00", "NAT", "LIGADO",
         "Até 30", "NÃO", "30,00", None, "02/03/2024", None, None, None),
    ]
    schema = (
        "empresa string, ucv string, nomecad string, ndoc string, ncpf string,"
        " ano int, mes int, liquido string, loc string, sit string, faixa string,"
        " iu12m string, valor string, bloq string, dtvenc string,"
        " venc_maior_1ano string, ind_telefone_1_valido string, fone_consumidor string"
    )
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def config():
    return PipelineConfig(
        blocklist=["bloqueado judicial"],
        priority_order=["DESLIGADO", "ATÉ 30"],
        corte_humano_maior_igual=60.0,
        critical_statuses=["CLIENTE FALECIDO"],
        critical_threshold=2,
    )


@pytest.fixture(scope="module")
def enrichment(spark):
    return [
        spark.createDataFrame(
            [("d1", "84999990000.0", 9.0), ("d1", "84999990001", 5.0)],
            "documento string, telefone string, pontuacao double",
        ),
        spark.createDataFrame(
            [("d2", "84999990002", 1.0)],
            "documento string, telefone string, pontuacao double",
        ),
    ]


@pytest.fixture(scope="module")
def result(spark, mailing_fixture, config, enrichment):
    # 555 has 2 critical tabulações (>= threshold 2) -> removed; 444 has 1.
    regras = spark.createDataFrame(
        [("555", "CLIENTE FALECIDO"), ("555.0", "cliente falecido"),
         ("444", "CLIENTE FALECIDO"), ("444", "OUTRO")],
        "idcliente string, status string",
    )
    return process_mailing(
        mailing_fixture, config, enrichment_sheets=enrichment, regras_disposicao=regras
    )


def test_blocklist_leak_invariant(result, config):
    """laudo invariant: no blocklisted value in any output column."""
    assert audit_no_blocked_status(result.human, config.blocklist).count() == 0
    assert audit_no_blocked_status(result.robot, config.blocklist).count() == 0
    assert result.rejected.count() == 1
    assert result.rejected.first()["motivo_remocao"] == "BLOQUEADO JUDICIAL"


def test_threshold_removal_and_dedup(result):
    """555 removed by tabulações threshold (2 critical); 111 deduped to the
    named row; CPF unique in outputs."""
    cpfs = [
        r["CPF"]
        for r in result.human.select("CPF").union(result.robot.select("CPF")).collect()
    ]
    assert sorted(cpfs) == ["111", "333", "444"]
    assert len(cpfs) == len(set(cpfs))
    named = result.human.filter(F.col("CPF") == "111").first()
    assert named["NOME_CLIENTE"] == "Ana"


def test_valor_divida_sums_pre_dedup_rows(result):
    """valorDivida = sum(valor) per CPF computed on post-dedup rows
    (dedup before aggregation, the reference's semantic order)."""
    row = result.human.filter(F.col("CPF") == "111").first()
    assert row["valorDivida"] == pytest.approx(100.50)


def test_phones_all_digits_best_first(result):
    row = result.human.filter(F.col("CPF") == "111").first()
    assert row["telefone_01"] == "84999990000"  # best score, .0 stripped
    assert row["telefone_02"] == "84999990001"
    assert row["telefone_03"] == "84911110001"  # mailing fallback, cleaned
    for c in ("telefone_01", "telefone_02", "telefone_03", "telefone_04"):
        for r in result.human.select(c).collect():
            assert r[c] is None or r[c].isdigit()


def test_cliente_regulariza_flag(result):
    both = result.human.unionByName(result.robot)
    got = {r["CPF"]: r["Cliente_Regulariza"] for r in both.collect()}
    assert got["111"] == "SIM"     # 'S'
    assert got["444"] == "SIM"     # 'x' != 'N'
    assert got["333"] == "NÃO"     # null


def test_segmentation_partition_property(result, spark, mailing_fixture, config, enrichment):
    """corte>0: human ∪ robot = all, disjoint; corte==0: both = all."""
    h = {r["CPF"] for r in result.human.select("CPF").collect()}
    r_ = {r["CPF"] for r in result.robot.select("CPF").collect()}
    assert h | r_ == {"111", "333", "444"}
    assert h & r_ == set()
    assert h == {"111", "444"}  # valorDivida 100.5, 70 >= 60
    cfg0 = PipelineConfig(
        blocklist=config.blocklist, priority_order=config.priority_order,
        corte_humano_maior_igual=0.0,
    )
    res0 = process_mailing(mailing_fixture, cfg0, enrichment_sheets=enrichment)
    assert res0.human.count() == res0.robot.count()


def test_priority_level_mapping(result):
    """DESLIGADO=0; 'Até 30' overwrites it (last-match-wins, index 1)."""
    both = result.human.unionByName(result.robot)
    got = {r["CPF"]: r["priority_level"] for r in both.collect()}
    assert got["444"] == 0   # DESLIGADO (idx 0); faixa 'Até 90' matches nothing
    assert got["111"] == 1   # faixa 'Até 30' -> idx 1
    assert got["333"] == 1   # LIGADO no match; 'Até 30' -> idx 1


def test_principal_columns_present_and_first(result):
    from python_etl_mailing_automation_spark.pipeline.mailing import PRINCIPAL_COLUMNS

    assert result.human.columns[: len(PRINCIPAL_COLUMNS)] == PRINCIPAL_COLUMNS


def test_robot_output_pivot(result, config):
    robot_in = result.robot.withColumn("dtvenc", F.to_timestamp(F.lit("2024-03-01")))
    out = build_robot_output(
        robot_in.withColumn("liquido", F.lit(123.0)), config
    )
    row = out.first()
    assert row["valorParcela_1"] == "123"
    assert row["dataVencimento_1"] == "01/03/2024"
    assert out.count() == out.select("CPF").distinct().count()


def test_robot_strategies_agree(spark, config):
    """The fused single-agg strategy and the window transcription are the
    same operator: identical rows on a corpus with multi-invoice CPFs,
    <3-invoice CPFs (null rank columns), and a folded-in debt total."""
    rows = [
        ("c1", "2024-03-01", 10.0, "b1", "EPB"),
        ("c1", "2024-01-05", 30.0, "b2", "EPB"),
        ("c1", "2024-02-10", 20.0, "b3", "EPB"),
        ("c1", "2024-04-01", 5.0, "b4", "EPB"),
        ("c2", "2024-05-01", 77.5, "b5", "EMT"),
        ("c3", None, 1.0, "b6", "EMT"),  # due-date guard drops it
        ("c3", "2024-06-01", 2.0, "b7", "EMT"),
    ]
    df = spark.createDataFrame(
        rows, "CPF string, dtvenc string, liquido double, codbarra string, PRODUTO string"
    ).withColumn("dtvenc", F.to_timestamp("dtvenc"))
    kw = dict(sum_total_col="valorDivida")
    a = build_robot_output(df, config, strategy="agg", **kw)
    w = build_robot_output(df, config, strategy="window", **kw)
    assert sorted(a.columns) == sorted(w.columns)
    key = sorted(a.columns)
    got_a = sorted(map(tuple, a.select(*key).collect()))
    got_w = sorted(map(tuple, w.select(*key).collect()))
    assert got_a == got_w
    by_cpf = {r["CPF"]: r for r in a.collect()}
    assert by_cpf["c1"]["dtvenc_1"].strftime("%Y-%m-%d") == "2024-01-05"
    assert by_cpf["c1"]["valorDivida"] == 65.0  # top-3 kept, sum over all 4
    assert by_cpf["c2"]["codbarra_2"] is None
    assert by_cpf["c3"]["valorDivida"] == 2.0  # guard row excluded


@pytest.mark.parametrize(
    "groups, expected",
    [
        pytest.param(
            {"08HRS": ["EPB"], "09HRS": ["EPB", "EMT"], "10HRS": ["XYZ"]},
            [("c1", "08HRS"), ("c1", "09HRS"), ("c2", "09HRS")],
            id="groups",
        ),
        pytest.param({}, [("c1", "mestre"), ("c2", "mestre"), ("c3", "mestre")], id="no_groups"),
    ],
)
def test_route_by_time_slot_tags(spark, groups, expected):
    """A row is tagged once per slot listing its product and dropped
    when none does; with no groups every row goes to the one ``mestre``
    slot that ``time_slots`` names."""
    df = spark.createDataFrame(
        [("c1", "EPB"), ("c2", "EMT"), ("c3", "ECO")], "CPF string, PRODUTO string"
    )
    cfg = PipelineConfig(robot_time_slot_groups=groups)
    routed = route_by_time_slot(df, cfg)
    assert sorted(map(tuple, routed.select("CPF", SLOT_COL).collect())) == expected
    assert time_slots(cfg) == (list(groups) or ["mestre"])


def test_blocklist_handles_mojibake_variants(spark):
    """The reference's blocklist enumerates both clean and corrupted forms
    (config.ini:95-137) so no repair UDF runs on the hot path — the filter
    must catch either spelling when both are listed."""
    corrupted = "LIGAÇÃO INDEVIDA".encode("utf-8").decode("latin1")
    df = spark.createDataFrame(
        [("r1", "LIGAÇÃO INDEVIDA"), ("r2", corrupted), ("r3", "OK")],
        "id string, bloq string",
    )
    from python_etl_mailing_automation_spark.operators.filters import blocklist_filter

    kept, rejected = blocklist_filter(df, "bloq", ["LIGAÇÃO INDEVIDA", corrupted])
    assert [r["id"] for r in kept.collect()] == ["r3"]
    assert sorted(r["id"] for r in rejected.collect()) == ["r1", "r2"]


def test_mojibake_repair_expr_enumerated(spark):
    from python_etl_mailing_automation_spark.functions import mojibake_repair_expr

    bad_ate = "Até".encode("utf-8").decode("latin1")
    bad_nao = "NÃO".encode("utf-8").decode("latin1")
    df = spark.createDataFrame(
        [(f"{bad_ate} 30",), (bad_nao,), ("limpo",)], "v string"
    )
    out = [
        r["r"]
        for r in df.select(
            mojibake_repair_expr(
                F.col("v"), {bad_ate: "Até", bad_nao: "NÃO"}
            ).alias("r")
        ).collect()
    ]
    assert out == ["Até 30", "NÃO", "limpo"]


def test_dedup_idempotence(spark, mailing_fixture, config, enrichment):
    res1 = process_mailing(mailing_fixture, config, enrichment_sheets=enrichment)
    # Re-running the pipeline over its own human output (as a mailing-ish
    # frame) must not drop further rows via dedup (idempotence).
    h = res1.human
    again = process_mailing(
        h.withColumnsRenamed({"CPF": "ncpf", "NOME_CLIENTE": "nomecad"}), config
    )
    assert again.human.count() + again.robot.count() == h.count()
