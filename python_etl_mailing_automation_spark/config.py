"""INI config bridge (SURVEY.md §1.4).

Reads the reference's **actual** ``config.ini`` layout
(``/root/reference/config.ini``) into a typed object the pipeline
consumes:

- ``[SCHEMA_MAILING] required_columns`` + ``status_de_bloqueio_para_remover``
  (newline-separated; clean AND mojibake variants enumerated by design,
  consumed case-insensitively — ``processing_pipeline.py:200-201``)
- ``[SCHEMA_TABULACOES] required_columns / status_criticos_para_remocao /
  limiar_remocao_status_criticos`` (``processing_pipeline.py:70-72``)
- ``[PRIORITIES] order`` (newline-separated, upper-cased —
  ``processing_pipeline.py:255``)
- ``[SEGMENTACAO] corte_humano_maior_igual / coluna_divida_filtro``
  (``processing_pipeline.py:278-280``)
- ``[EXPORT_COLUMNS] human_columns / robo_columns`` (comma/newline
  separated — ``data_exporter.py:46-47``, ``gerador_robo_mestre.py:110-111``)
- ``[ROBO] grupos_*`` time-slot groups (slot = suffix upper-cased, e.g.
  ``grupos_08hrs`` → ``08HRS``) plus ``output_file_prefix``
  (``gerador_robo_mestre.py:121-126``); non-``grupos_`` keys are NOT
  treated as groups
- ``[SETTINGS] output_file_prefix / output_date_format`` (the output
  file names, ``data_exporter.py:57-64``)

Only keys the engine reads are modeled: input discovery patterns are
``run_mailing_job`` arguments, and ``[PATHS]``, ``[FILENAMES]``,
``[COMPRESSOR]``, ``[SOURCE_COLUMNS]``, ``log_level`` and the dead
``[PRE_FILTROS]`` (SURVEY.md §8) are not read.
"""

from __future__ import annotations

import configparser
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class PipelineConfig:
    """Semantic constants of the mailing pipeline.

    Defaults mirror the reference's production config
    (``/root/reference/config.ini``) closely enough for tests; real runs
    load an INI via :func:`load_config`.
    """

    # [SCHEMA_MAILING] required_columns
    required_mailing_columns: list[str] = field(
        default_factory=lambda: [
            "empresa", "ucv", "nomecad", "ndoc", "ncpf", "ano", "mes",
            "liquido", "loc", "sit", "faixa", "iu12m",
        ]
    )
    # [SCHEMA_TABULACOES] required_columns
    required_tabulacoes_columns: list[str] = field(default_factory=lambda: ["idcliente"])
    # [SCHEMA_TABULACOES] status_criticos_para_remocao + limiar_remocao_status_criticos
    critical_statuses: list[str] = field(
        default_factory=lambda: ["CLIENTE FALECIDO", "NAO PERTENCE A UC"]
    )
    critical_threshold: int = 3
    # [SCHEMA_MAILING] status_de_bloqueio_para_remover — clean and
    # mojibake variants are both enumerated, by design.
    blocklist: list[str] = field(default_factory=list)
    # [PRIORITIES] order (upper-cased like processing_pipeline.py:255)
    priority_order: list[str] = field(default_factory=list)
    priority_match_columns: list[str] = field(
        default_factory=lambda: ["faixa", "sit", "iu12m"]
    )
    # [SEGMENTACAO]
    corte_humano_maior_igual: float = 0.0
    divida_filter_column: str = "valorDivida"
    # [EXPORT_COLUMNS]
    human_export_columns: list[str] = field(default_factory=list)
    robot_export_columns: list[str] = field(default_factory=list)
    # [ROBO] grupos_* time-slot product groups (slot name upper-cased)
    robot_time_slot_groups: dict[str, list[str]] = field(default_factory=dict)
    robot_output_file_prefix: str = "Telecobranca_TOI_Robo_"
    # [SETTINGS]
    output_file_prefix: str = "Telecobranca_TOI_"
    output_date_format: str = "%d_%m_%Y"


def _split_commas(raw: str) -> list[str]:
    """Comma/newline-separated list (required_columns, EXPORT_COLUMNS,
    ROBO groups — ``data_exporter.py:47``)."""
    return [x.strip() for x in raw.replace("\n", ",").split(",") if x.strip()]


def _split_lines(raw: str) -> list[str]:
    """Newline-separated list — how the reference splits the blocklist,
    critical statuses, and priorities (``processing_pipeline.py:71,201,255``);
    values may contain commas and must NOT be comma-split.  Trailing
    commas (legacy comma-separated multiline values) are tolerated."""
    return [x.strip().rstrip(",").strip() for x in raw.split("\n") if x.strip(", \t")]


def load_config(path: str | Path) -> PipelineConfig:
    """Load a reference-layout INI into a :class:`PipelineConfig`; a key
    the INI lacks keeps the dataclass default."""
    parser = configparser.ConfigParser(interpolation=None)
    parser.read(str(path), encoding="utf-8")
    cfg = PipelineConfig()

    def raw(section: str, key: str) -> str | None:
        if parser.has_option(section, key):
            return parser.get(section, key)
        return None

    v = raw("SCHEMA_MAILING", "required_columns")
    if v is not None:
        cfg.required_mailing_columns = _split_commas(v)
    v = raw("SCHEMA_TABULACOES", "required_columns")
    if v is not None:
        cfg.required_tabulacoes_columns = _split_commas(v)

    # Critical tabulação statuses + threshold (processing_pipeline.py:70-72).
    v = raw("SCHEMA_TABULACOES", "status_criticos_para_remocao")
    if v is not None:
        cfg.critical_statuses = _split_lines(v) if "\n" in v else _split_commas(v)
    v = raw("SCHEMA_TABULACOES", "limiar_remocao_status_criticos")
    if v is not None:
        cfg.critical_threshold = int(v.strip())

    # Blocklist (processing_pipeline.py:200-201: newline split, consumed
    # lower-cased — normalization happens in blocklist_filter).
    v = raw("SCHEMA_MAILING", "status_de_bloqueio_para_remover")
    if v is not None:
        cfg.blocklist = _split_lines(v) if "\n" in v else _split_commas(v)

    # Priorities (processing_pipeline.py:255: newline split + upper).
    v = raw("PRIORITIES", "order")
    if v is not None:
        items = _split_lines(v) if "\n" in v else _split_commas(v)
        cfg.priority_order = [p.upper() for p in items]

    # Segmentation (processing_pipeline.py:278-280).
    v = raw("SEGMENTACAO", "corte_humano_maior_igual")
    if v is not None:
        cfg.corte_humano_maior_igual = float(v.strip())
    v = raw("SEGMENTACAO", "coluna_divida_filtro")
    if v is not None:
        cfg.divida_filter_column = v.strip()

    # Export layouts (data_exporter.py:46-47, gerador_robo_mestre.py:110-111).
    v = raw("EXPORT_COLUMNS", "human_columns")
    if v is not None:
        cfg.human_export_columns = _split_commas(v)
    v = raw("EXPORT_COLUMNS", "robo_columns")
    if v is not None:
        cfg.robot_export_columns = _split_commas(v)

    # Robot time slots: ONLY grupos_* keys are product groups
    # (gerador_robo_mestre.py:121-123 reads grupos_08hrs/09hrs/10hrs and
    # maps them to slots 08HRS/09HRS/10HRS); other [ROBO] keys such as
    # output_file_prefix are operational, not groups.
    if parser.has_section("ROBO"):
        for key, value in parser.items("ROBO"):
            if key.startswith("grupos_"):
                cfg.robot_time_slot_groups[key[len("grupos_"):].upper()] = (
                    _split_commas(value)
                )
            elif key == "output_file_prefix":
                cfg.robot_output_file_prefix = value.strip()

    v = raw("SETTINGS", "output_file_prefix")
    if v is not None:
        cfg.output_file_prefix = v.strip()
    v = raw("SETTINGS", "output_date_format")
    if v is not None:
        # The reference stores strftime escapes as %% (compressor.py:91).
        cfg.output_date_format = v.strip().replace("%%", "%")
    return cfg
