"""The composed mailing pipeline (SURVEY.md §3.1 stages 2+4+5 as ONE lazy
DAG).

Reference lifecycle: ``processar_dados`` runs an eager, hand-ordered chain
(processing_pipeline.py:297-360), then the written CSVs are re-read and
rewritten repeatedly for formatting repairs (stages 4-5, main.py:71-76).
Here every step — including the "post-hoc" repairs, which are all
value-level — composes into one lazy plan with a single write action per
sink (SURVEY.md §3.4): Catalyst fuses the whole chain, and there is no
write→re-read→rewrite loop at all.

Semantic-order note (SURVEY.md §4): the chain order below is *semantics*,
not optimization — dedup before aggregation changes sums; the blocklist
filter after aggregation means removed rows still counted toward debt
totals. Kept exactly as the reference has it.

Scale: one shuffle per keyed operator (threshold join, dedup window,
aggregate windows, enrichment join — the enrichment side is pre-aggregated
and broadcast). The priority sort is exposed as a column, not a global
sort (see operators.ordering).

Stage report: every call observes the reference's per-stage row counts
on the stage frames (stage.py), all at or below the pre-blocklist frame
``MailingResult.base``, so the action that runs ``base`` reports them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.cleaning import (
    clean_phone_number,
    normalize_key,
    safe_to_double,
    strip_bom,
    strip_dot_zero,
)
from ..functions.dates import import_date_stamp, parse_date_br
from ..functions.flags import conditional_flag_sim_nao
from ..operators.aggregates import group_count_having, with_distinct_list, with_group_sum
from ..operators.dedup import smart_dedup_prefer_named
from ..operators.filters import blocked_status, blocklist_filter, segment_by_cutoff
from ..operators.joins import anti_join_on_keys, enrich_with_ordered_list
from ..operators.ordering import with_priority_level
from ..operators.phones import spread_phone_columns
from ..operators.sets import union_all_by_name
from ..schema import ensure_columns, normalize_column_names
from ..stage import StageCounts

# Date columns coerced by the reference (processing_pipeline.py:45).
DATE_COLUMNS = (
    "dtvenc", "dtreav", "dtprot", "dt_deslig", "dtapr",
    "data_encer_cont", "min_datavcm", "dt_aplicação",
)
MONEY_COLUMNS = ("liquido", "total_toi", "valor")

# Business-facing rename (processing_pipeline.py:230-236).
FINAL_RENAMES = {
    "nomecad": "NOME_CLIENTE",
    "empresa": "PRODUTO",
    "ncpf": "CPF",
    "totfat": "parcelasEmAtrado",
    "loc": "LOCALIDADE",
}
PRINCIPAL_COLUMNS = [
    "CPF", "NOME_CLIENTE", "PRODUTO", "LOCALIDADE", "valorDivida",
    "parcelasEmAtrado", "Cliente_Regulariza", "Data_de_Importacao",
    "telefone_01", "telefone_02", "telefone_03", "telefone_04",
    "faixa", "sit", "iu12m",
]


@dataclass
class MailingResult:
    human: DataFrame
    robot: DataFrame
    rejected: DataFrame
    base: DataFrame  # pre-blocklist; every output and stage count sits on it
    stages: StageCounts


def process_mailing(
    mailing: DataFrame,
    config: PipelineConfig,
    *,
    enrichment_sheets: list[DataFrame] | None = None,
    regras_disposicao: DataFrame | None = None,
    dedup_tiebreaker: str | None = None,
) -> MailingResult:
    """Full stage-2 pipeline; returns lazy human/robot/rejected frames.

    Mirrors ``processar_dados`` (processing_pipeline.py:297-360) step for
    step; every operator degrades gracefully when its columns are absent,
    as the reference does (SURVEY.md §1.3).

    ``result.stages`` observes the reference's per-stage counts
    (processing_pipeline.py:313-347, names as :317-347); no Spark job
    runs here. Read ``result.stages.report()`` once an action has run
    ``result.base``.
    """
    stages = StageCounts()
    df = normalize_column_names(mailing)
    cols = set(df.columns)
    df = stages.observe(df, "Carregamento de Dados", "Mailing consolidado carregado.")

    # -- F4 date coercion (processing_pipeline.py:310) --
    df = df.withColumns(
        {c: parse_date_br(F.col(c)) for c in DATE_COLUMNS if c in cols}
    )
    # -- F3/F6/F7 numeric + text repair (:311) --
    df = df.withColumns(
        {c: safe_to_double(F.col(c)) for c in MONEY_COLUMNS if c in cols}
    )
    if "empresa" in cols:
        df = df.withColumn("empresa", strip_bom(F.col("empresa")))
    for c in ("ndoc", "ncpf"):
        if c in cols:
            df = df.withColumn(c, strip_dot_zero(F.col(c)))

    # -- J3/A3/A4 threshold anti-join (:314) --
    if regras_disposicao is not None and "ncpf" in cols:
        regras = normalize_column_names(regras_disposicao)
        if {"idcliente", "status"} <= set(regras.columns):
            critical = [s.upper() for s in config.critical_statuses]
            bad = group_count_having(
                regras.withColumn("idcliente", strip_dot_zero("idcliente")),
                "idcliente",
                F.upper(F.trim(F.col("status"))).isin(critical),
                config.critical_threshold,
            ).select(normalize_key("idcliente").alias("bad_key"))
            df = anti_join_on_keys(
                df, bad, df_key=normalize_key("ncpf"), keys_key="bad_key"
            )
            df = stages.observe(
                df, "Remoção por Tabulação", "Clientes com status crítico removidos."
            )

    # -- W1 smart dedup (:320). The reference's tie order was whatever the
    #    sort left (nondeterministic, SURVEY §7.3-1); pass a tiebreaker
    #    column for fully deterministic picks. --
    if {"ncpf", "nomecad"} <= cols:
        df = smart_dedup_prefer_named(
            df, "ncpf", "nomecad", tiebreaker=dedup_tiebreaker
        )
        df = stages.observe(
            df, "Deduplicação por 'ncpf'", "Duplicatas resolvidas (preferência a nomeados)."
        )

    # -- A1/A2 per-CPF aggregates (:326) --
    if {"ncpf", "valor"} <= cols:
        df = with_group_sum(df, "ncpf", "valor", "valorDivida")
    if {"ncpf", "ucv"} <= cols:
        df = with_distinct_list(df, "ncpf", "ucv", "UCs_Cliente", "Qtd_UCs")
    df = stages.observe(
        df, "Cálculo de Colunas Agregadas", "Colunas agregadas por CPF calculadas."
    )

    # -- U1 + J1a + J1 + UD1 phone enrichment (:332) --
    enriched_col = None
    if enrichment_sheets:
        enr = union_all_by_name(
            [normalize_column_names(s) for s in enrichment_sheets]
        )
        if {"documento", "telefone", "pontuacao"} <= set(enr.columns) and "ndoc" in cols:
            df = df.withColumn("__join_key_fact", normalize_key("ndoc"))
            # F2 phone cleaning BEFORE the list-agg (processing_pipeline.py:147).
            enr = enr.withColumn("documento", normalize_key("documento")).withColumn(
                "telefone", clean_phone_number("telefone")
            )
            df = enrich_with_ordered_list(
                df,
                enr,
                fact_key="__join_key_fact",
                enrich_key="documento",
                value_col="telefone",
                score_col="pontuacao",
                out_col="telefones_enriquecidos",
                # The Pontuação workbook is dimension-sized by contract
                # (data_loader.py:30-35) — force the broadcast so the plan
                # never shuffles the mailing on the enrichment key.
                broadcast_enrichment=True,
            ).drop("__join_key_fact")
            enriched_col = "telefones_enriquecidos"
    phone_fallbacks = [
        c
        for c in ("ind_telefone_1_valido", "ind_telefone_2_valido", "fone_consumidor")
        if c in cols
    ]
    df = spread_phone_columns(df, enriched_col, phone_fallbacks)
    if enriched_col:
        df = df.drop(enriched_col)
    df = stages.observe(
        df, "Enriquecimento de Telefones", "Telefones enriquecidos e distribuídos."
    )

    # -- F10 flag (:338) --
    flag_src = (
        F.col("venc_maior_1ano") if "venc_maior_1ano" in cols else F.lit(None)
    )
    df = df.withColumn("Cliente_Regulariza", conditional_flag_sim_nao(flag_src))
    # The blocklist stage's kept count rides on this observation, so
    # every observation sits at or below ``base``.
    blocking = "bloq" in cols and bool(config.blocklist)
    blocked = blocked_status("bloq", config.blocklist) if blocking else F.lit(False)
    df = base = stages.observe(
        df, "Criação de 'Cliente_Regulariza'", "Flag Cliente_Regulariza criada.",
        kept=F.count(F.lit(1)) - F.count_if(blocked),
    )

    # -- P6 + S8 blocklist filter with side output (:344) --
    if blocking:
        df, rejected = blocklist_filter(df, "bloq", config.blocklist)
        stages.derive(df, "Filtro de Bloqueio ('bloq')", "Status de bloqueio removidos.",
                      "kept")
    else:
        rejected = df.limit(0).withColumn("motivo_remocao", F.lit(None).cast("string"))

    # -- stamp + P2/P3 layout (:349-350) --
    df = df.withColumn("Data_de_Importacao", import_date_stamp())
    df = df.withColumnsRenamed(
        {k: v for k, v in FINAL_RENAMES.items() if k in df.columns}
    )
    df = ensure_columns(df, PRINCIPAL_COLUMNS)

    # -- O1 priority level (:355) — exposed as a column; consumers order
    #    by (priority_level asc, valorDivida desc) where row order matters.
    match_cols = [c for c in config.priority_match_columns if c in df.columns]
    if config.priority_order and match_cols:
        df = with_priority_level(df, match_cols, config.priority_order)

    # -- P7 segmentation (:358) — filter column is configurable
    #    ([SEGMENTACAO] coluna_divida_filtro, processing_pipeline.py:280).
    value_col = (
        config.divida_filter_column
        if config.divida_filter_column in df.columns
        else ("valorDivida" if "valorDivida" in df.columns else None)
    )
    if value_col:
        human, robot = segment_by_cutoff(df, value_col, config.corte_humano_maior_igual)
    else:
        human = robot = df

    return MailingResult(human, robot, rejected, base, stages)
