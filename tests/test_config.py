"""INI config bridge: the reference's REAL config.ini layout parses into
PipelineConfig (SURVEY.md §1.4; ADVICE r1 high)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from python_etl_mailing_automation_spark.config import PipelineConfig, load_config

REFERENCE_INI = Path("/root/reference/config.ini")

# The reference layout in miniature: the same sections and keys as the
# production config.ini, with a newline-separated blocklist that carries a
# mojibake variant, so the parser contract runs without the reference copy.
REFERENCE_LAYOUT_INI = """
[SCHEMA_MAILING]
required_columns = empresa, ucv, nomecad, ndoc, ncpf
status_de_bloqueio_para_remover =
    AÇÃO DE COBRANÇA JUDICIAL (AUTOR)
    bloqueio somente corte
    AÃ‡ÃƒO JUDICIAL EM AVALIAÃ‡ÃƒO

[SCHEMA_TABULACOES]
required_columns = idcliente
status_criticos_para_remocao =
    CLIENTE FALECIDO
    NAO PERTENCE A UC
limiar_remocao_status_criticos = 3

[PRIORITIES]
order =
    A vencer
    Ligado
    SIM

[SEGMENTACAO]
corte_humano_maior_igual = 0
coluna_divida_filtro = valorDivida

[EXPORT_COLUMNS]
human_columns = NOME_CLIENTE, PRODUTO, CPF, valorDivida
robo_columns = NOME_CLIENTE, CPF, RESP_NEG

[ROBO]
grupos_08hrs = EPB, EMR
grupos_09hrs = ERO
output_file_prefix = TOI_AD_FF_ENERGISA_

[SETTINGS]
output_date_format = %%d_%%m_%%Y
"""


def test_load_reference_layout_inline(tmp_path):
    path = tmp_path / "config.ini"
    path.write_text(REFERENCE_LAYOUT_INI, encoding="utf-8")
    cfg = load_config(path)
    assert cfg.required_mailing_columns == ["empresa", "ucv", "nomecad", "ndoc", "ncpf"]
    assert cfg.required_tabulacoes_columns == ["idcliente"]
    # Newline-separated, clean and mojibake variants kept verbatim.
    assert cfg.blocklist == [
        "AÇÃO DE COBRANÇA JUDICIAL (AUTOR)",
        "bloqueio somente corte",
        "AÃ‡ÃƒO JUDICIAL EM AVALIAÃ‡ÃƒO",
    ]
    assert cfg.critical_statuses == ["CLIENTE FALECIDO", "NAO PERTENCE A UC"]
    assert cfg.critical_threshold == 3
    assert cfg.priority_order == ["A VENCER", "LIGADO", "SIM"]
    assert cfg.corte_humano_maior_igual == 0.0
    assert cfg.divida_filter_column == "valorDivida"
    assert cfg.human_export_columns == ["NOME_CLIENTE", "PRODUTO", "CPF", "valorDivida"]
    assert cfg.robot_export_columns == ["NOME_CLIENTE", "CPF", "RESP_NEG"]
    # grupos_* keys only; output_file_prefix is NOT a group.
    assert cfg.robot_time_slot_groups == {"08HRS": ["EPB", "EMR"], "09HRS": ["ERO"]}
    assert cfg.robot_output_file_prefix == "TOI_AD_FF_ENERGISA_"
    assert cfg.output_date_format == "%d_%m_%Y"  # %% unescaped


@pytest.mark.skipif(
    not REFERENCE_INI.exists(), reason="the reference config.ini is not on this machine"
)
def test_load_reference_config_verbatim(tmp_path):
    """A byte-for-byte copy of the production config.ini must load with
    every semantic knob populated (ADVICE r1: the old loader silently
    yielded an empty blocklist / no priorities / no export layouts)."""
    path = tmp_path / "config.ini"
    shutil.copyfile(REFERENCE_INI, path)
    cfg = load_config(path)

    # Schemas.
    assert cfg.required_mailing_columns == [
        "empresa", "ucv", "nomecad", "ndoc", "ncpf", "ano", "mes",
        "liquido", "loc", "sit", "faixa", "iu12m",
    ]
    assert cfg.required_tabulacoes_columns == ["idcliente"]

    # Blocklist comes from [SCHEMA_MAILING] status_de_bloqueio_para_remover:
    # 42 newline-separated entries, clean + mojibake variants.
    assert len(cfg.blocklist) == 42
    assert "AÇÃO DE COBRANÇA JUDICIAL (AUTOR)" in cfg.blocklist
    assert "bloqueio somente corte" in cfg.blocklist
    assert "AÃ‡ÃƒO JUDICIAL EM AVALIAÃ‡ÃƒO" in cfg.blocklist  # mojibake variant

    # Tabulações criticals ([SCHEMA_TABULACOES]).
    assert cfg.critical_statuses == ["CLIENTE FALECIDO", "NAO PERTENCE A UC"]
    assert cfg.critical_threshold == 3

    # Priorities ([PRIORITIES] order, upper-cased).
    assert cfg.priority_order == ["A VENCER", "LIGADO", "SIM", "DESLIGADO", "INATIVO"]

    # Segmentation ([SEGMENTACAO]).
    assert cfg.corte_humano_maior_igual == 0.0
    assert cfg.divida_filter_column == "valorDivida"

    # Export layouts ([EXPORT_COLUMNS]).
    assert cfg.human_export_columns[:3] == ["NOME_CLIENTE", "PRODUTO", "CPF"]
    assert len(cfg.human_export_columns) == 18
    assert cfg.robot_export_columns[0] == "NOME_CLIENTE"
    assert "RESP_NEG" in cfg.robot_export_columns
    assert len(cfg.robot_export_columns) == 23

    # Robot groups: grupos_* keys only; output_file_prefix is NOT a group.
    assert cfg.robot_time_slot_groups == {
        "08HRS": ["EPB", "EMR", "ESS", "ESE", "ETO"],
        "09HRS": ["ERO", "EMT", "EMS"],
        "10HRS": ["EAC"],
    }
    assert cfg.robot_output_file_prefix == "TOI_AD_FF_ENERGISA_"

    # Output names ([SETTINGS]).
    assert cfg.output_file_prefix == "Telecobranca_TOI_"
    assert cfg.output_date_format == "%d_%m_%Y"  # %% unescaped


def test_load_config_defaults_when_missing(tmp_path):
    path = tmp_path / "empty.ini"
    path.write_text("[OUTRA]\nx = 1\n", encoding="utf-8")
    cfg = load_config(path)
    defaults = PipelineConfig()
    assert cfg.required_mailing_columns == defaults.required_mailing_columns
    assert cfg.critical_threshold == defaults.critical_threshold
    assert cfg.blocklist == []
