"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry maps a SURVEY.md §2 operator (or a
beyond-reference datapipe operator) onto the driver's synthetic tables,
built with the `python_etl_mailing_automation_spark` library; the matching
``oracle_sql()`` entry is the equivalent DuckDB SQL. Column names and
dtypes are aligned on both sides; all float-valued outputs are engineered
to be bit-identical across engines (decimal accumulation for sums/dot
products, exact integer division results, md5-based hashing).

Reference parity anchors are cited per query as ``reference file:line``.
"""

from __future__ import annotations

import re

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.datapipe.dedup import (
    band_entries,
    exact_dedup_groups,
    jaccard_on_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from python_etl_mailing_automation_spark.datapipe.multimodal import (
    extract_features,
    with_binary_payload,
)
from python_etl_mailing_automation_spark.datapipe.similarity import (
    ann_bucket_topk,
    cosine_topk,
)
from python_etl_mailing_automation_spark.datapipe.text import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
    tokens_of,
)
from python_etl_mailing_automation_spark.functions import (
    conditional_flag_sim_nao,
    digits_only,
    format_date_br,
    format_money_br,
    format_money_robot,
    normalize_key,
    parse_date_br,
    safe_to_double,
    strip_bom,
    strip_dot_zero,
)
from python_etl_mailing_automation_spark.operators import (
    anti_join_on_keys,
    blocklist_filter,
    completeness_count,
    dedup_keep_best,
    enrich_with_ordered_list,
    group_count_having,
    rank_in_group,
    rank_pivot_wide,
    spread_phone_columns,
    top_k_per_group,
    union_all_by_name,
    with_group_sum,
    with_priority_level,
)
from python_etl_mailing_automation_spark.operators.ordering import head_row_per_group

SEG_CUTOFF = 1_500_000.0
PRIORITY_ORDER = ["1-URGENT", "O", "2-HIGH", "F"]
PRIORITY_COLS = ["o_orderpriority", "o_orderstatus"]
BLOCKLIST = ["5-LOW", "4-NOT SPECIFIED"]


from python_etl_mailing_automation_spark.sources import read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Reference-surface queries (SURVEY.md §2)
# ---------------------------------------------------------------------------


def q_per_key_windowed_sum(spark: SparkSession, sf: str) -> DataFrame:
    """A1 — windowed SUM without collapse (processing_pipeline.py:115-117)."""
    orders = _t(spark, sf, "orders")
    return with_group_sum(orders, "o_custkey", "o_totalprice", "total_debt").select(
        "o_orderkey", "o_custkey", "o_totalprice", "total_debt"
    )


def q_distinct_list_per_key(spark: SparkSession, sf: str) -> DataFrame:
    """A2 — per-key distinct list + count (processing_pipeline.py:119-123).

    Deterministically sorted (pandas kept first-seen order; SURVEY §7.3-2).
    """
    orders = _t(spark, sf, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ", ").alias(
            "status_list"
        ),
        F.size(F.collect_set("o_orderstatus")).alias("status_count"),
    )


def q_group_count_having(spark: SparkSession, sf: str) -> DataFrame:
    """A3+A4 — count critical rows per key, HAVING >= threshold
    (processing_pipeline.py:83-85)."""
    orders = _t(spark, sf, "orders")
    return group_count_having(orders, "o_custkey", F.col("o_orderstatus") == "F", 3)


def q_threshold_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """J3 — anti-join removal of threshold-exceeding keys
    (processing_pipeline.py:84-88)."""
    orders = _t(spark, sf, "orders")
    customer = _t(spark, sf, "customer")
    bad = group_count_having(orders, "o_custkey", F.col("o_orderstatus") == "F", 3)
    return anti_join_on_keys(
        customer, bad.select("o_custkey"), df_key="c_custkey", keys_key="o_custkey"
    ).select("c_custkey", "c_name", "c_acctbal")


def q_smart_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """W1 — keep one row per key under an explicit preference order
    (processing_pipeline.py:92-109; flag analog of 'prefer named rows').

    Both engine implementations in one battery entry: the window form
    (dedup_keep_best) and the skew-hardened min_by struct reduction
    (dedup_keep_best_maxby — partial aggregation instead of a
    single-partition window sort, for hot keys), tagged by `variant`.
    They are keep-best-equivalent by construction, so the oracle is the
    same QUALIFY select twice."""
    from python_etl_mailing_automation_spark.operators.dedup import (
        dedup_keep_best_maxby,
    )

    orders = _t(spark, sf, "orders")
    window_form = dedup_keep_best(
        orders,
        "o_custkey",
        [(F.col("o_orderstatus") == "O").desc(), F.col("o_totalprice").desc()],
        tiebreaker="o_orderkey",
    ).select(
        F.lit("window").alias("variant"),
        "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice",
    )
    maxby_form = dedup_keep_best_maxby(
        orders,
        "o_custkey",
        [
            F.when(F.col("o_orderstatus") == "O", 0).otherwise(1),
            -F.col("o_totalprice"),
            F.col("o_orderkey"),
        ],
    ).select(
        F.lit("maxby").alias("variant"),
        "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice",
    )
    return window_form.unionByName(maxby_form)


def q_completeness_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """W2+A8 — dedup by row completeness (most-complete wins — the
    reference's evident intent; see SURVEY §7.3-3) over fabricated
    nullable columns."""
    orders = _t(spark, sf, "orders")
    df = orders.withColumns(
        {
            "x": F.nullif(F.col("o_orderstatus"), F.lit("F")),
            "y": F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")),
            "z": F.when(F.col("o_totalprice") >= 100000, F.col("o_totalprice")),
        }
    ).withColumn("completude", completeness_count(["x", "y", "z"]))
    return dedup_keep_best(
        df, "o_custkey", [F.col("completude").desc()], tiebreaker="o_orderkey"
    ).select("o_custkey", "o_orderkey", "completude")


def q_rank_in_group(spark: SparkSession, sf: str) -> DataFrame:
    """A6 — rank within group by due date (gerador_robo_mestre.py:43-44),
    plus the F8/F9 money formats (data_exporter.py:10-16,
    gerador_robo_mestre.py:10-19) on the same per-lineitem grain — one
    projection exercises rank + both BR money renderers."""
    li = _t(spark, sf, "lineitem")
    # (l_orderkey, l_shipdate, l_linenumber) is NOT unique in the synthetic
    # data (8 tie groups at sf0.01 with differing price/quantity), so the
    # rank↔value pairing under that order is engine-nondeterministic —
    # extend the order to a value-determining superkey (SURVEY §7.3-1).
    order = [
        F.col("l_shipdate"), F.col("l_linenumber"),
        F.col("l_extendedprice"), F.col("l_partkey"), F.col("l_suppkey"),
    ]
    return rank_in_group(li, "l_orderkey", order, out_col="rn").select(
        "l_orderkey",
        "l_linenumber",
        format_date_br("l_shipdate").alias("ship_dt"),
        F.col("rn").cast("long").alias("invoice_rank"),
        format_money_br("l_extendedprice").alias("valor_humano"),
        format_money_robot("l_quantity").alias("valor_robo"),
    )


def q_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """O2 — top-3 rows per group (gerador_robo_mestre.py:46)."""
    li = _t(spark, sf, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # extend the order so every output column is order-determined and the
    # pick is engine-independent (SURVEY §7.3-1 made explicit).
    order = [
        F.col("l_shipdate"), F.col("l_linenumber"),
        F.col("l_extendedprice"), F.col("l_partkey"), F.col("l_suppkey"),
    ]
    return top_k_per_group(li, "l_orderkey", order, 3, rank_col="rn").select(
        "l_orderkey",
        "l_linenumber",
        F.col("rn").cast("long").alias("invoice_rank"),
        "l_extendedprice",
    )


def q_rank_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """A7 — long→wide pivot of the top-3 ranked rows
    (gerador_robo_mestre.py:46-55)."""
    li = _t(spark, sf, "lineitem").withColumn("ship_dt", format_date_br("l_shipdate"))
    order = [
        F.col("l_shipdate"), F.col("l_linenumber"),
        F.col("l_extendedprice"), F.col("l_partkey"), F.col("l_suppkey"),
    ]
    return rank_pivot_wide(
        li, "l_orderkey", order, ["ship_dt", "l_extendedprice"], k=3,
        order_keys=order,  # all-asc non-null superkey → fused single-agg path
    )


def q_head_row_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """A5+O4 — explicit-order head row per group
    (gerador_robo_mestre.py:57; order made explicit per SURVEY §7.3-1)."""
    orders = _t(spark, sf, "orders")
    return head_row_per_group(
        orders, "o_custkey", [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    ).select(
        "o_custkey",
        F.col("o_orderkey").alias("first_orderkey"),
        format_date_br("o_orderdate").alias("first_orderdate"),
        F.col("o_totalprice").alias("first_totalprice"),
    )


def q_priority_case_sort(spark: SparkSession, sf: str) -> DataFrame:
    """O1 — case-mapped priority level, last-match-wins
    (processing_pipeline.py:253-275)."""
    orders = _t(spark, sf, "orders")
    return with_priority_level(orders, PRIORITY_COLS, PRIORITY_ORDER).select(
        "o_orderkey", "priority_level", "o_totalprice"
    )


def q_blocklist_split(spark: SparkSession, sf: str) -> DataFrame:
    """P6 + S8 — blocklist anti-filter and its rejected-rows side output
    in one entry (processing_pipeline.py:195-226): every order tagged
    `kept`/`rejected`, rejected rows carrying the removal reason."""
    orders = _t(spark, sf, "orders")
    kept, rejected = blocklist_filter(orders, "o_orderpriority", BLOCKLIST)
    return kept.select(
        F.lit("kept").alias("side"),
        "o_orderkey", "o_custkey", "o_orderpriority",
        F.lit(None).cast("string").alias("motivo_remocao"),
    ).unionByName(
        rejected.select(
            F.lit("rejected").alias("side"),
            "o_orderkey", "o_custkey", "o_orderpriority", "motivo_remocao",
        )
    )


def q_segmentation(spark: SparkSession, sf: str) -> DataFrame:
    """P7+A1 — per-entity debt total and human/robot segment by cutoff
    (processing_pipeline.py:277-294)."""
    orders = _t(spark, sf, "orders")
    totals = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_debt")
    )
    return totals.withColumn(
        "segment",
        F.when(F.col("total_debt") >= SEG_CUTOFF, F.lit("human")).otherwise(F.lit("robot")),
    )


def q_enrichment_phones(spark: SparkSession, sf: str) -> DataFrame:
    """J1a+J1+UD1 — pre-aggregated best-first list + broadcast left join
    (processing_pipeline.py:146-161) feeding the phone spread as pure
    array algebra, no UDF (processing_pipeline.py:168-182). `phone_list`
    is the raw enrichment list (join evidence); telefone_01..04 are the
    spread over enrichment + cleaned fallback columns."""
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    enriched = enrich_with_ordered_list(
        orders,
        li,
        fact_key="o_orderkey",
        enrich_key="l_orderkey",
        value_col="l_suppkey",
        score_col="l_extendedprice",
        out_col="tels",
    ).withColumns(
        {
            "fb1": F.concat(F.col("o_custkey").cast("string"), F.lit(".0")),
            "fb2": F.concat(
                F.lit("("), F.col("o_orderkey").cast("string"), F.lit(") 77-88")
            ),
            "fb3": F.lit("abc"),
        }
    )
    return spread_phone_columns(enriched, "tels", ["fb1", "fb2", "fb3"]).select(
        "o_orderkey",
        "o_custkey",
        F.array_join(F.col("tels"), ", ").alias("phone_list"),
        "telefone_01", "telefone_02", "telefone_03", "telefone_04",
    )


def q_scalar_functions(spark: SparkSession, sf: str) -> DataFrame:
    """F2/F3/F4/F5/F6/F7/F10/F13/F15 — the scalar-function suite in one
    per-order projection: SIM/NÃO conditional flag
    (processing_pipeline.py:188-193), BR day-first date parse + format
    round-trip (processing_pipeline.py:44-49, data_exporter.py:43), and
    the cleaning expressions (processing_pipeline.py:27-40,56-59,79-80).
    Same-table same-grain scalar columns — one battery entry."""
    orders = _t(spark, sf, "orders")
    val = (
        F.when(F.col("o_orderstatus") == "P", F.lit(" n "))
        .when(F.col("o_orderstatus") == "F", F.lit(None))
        .otherwise(F.col("o_orderstatus"))
    )
    raw_valor = F.when(F.col("o_orderkey") % 3 == 0, F.lit("junk")).otherwise(
        F.concat(F.col("o_orderkey").cast("string"), F.lit(",5"))
    )
    br = format_date_br("o_orderdate")
    return orders.select(
        "o_orderkey",
        conditional_flag_sim_nao(val).alias("cliente_regulariza"),
        br.alias("dtvenc_br"),
        format_date_br(parse_date_br(br)).alias("dt_roundtrip"),
        F.year("o_orderdate").cast("int").alias("venc_ano"),
        strip_dot_zero(F.concat(F.col("o_orderkey").cast("string"), F.lit(".0"))).alias(
            "id_clean"
        ),
        digits_only(
            F.concat(F.lit("("), F.col("o_custkey").cast("string"), F.lit(") 9-88"))
        ).alias("phone_digits"),
        normalize_key("o_orderpriority").alias("key_norm"),
        strip_bom(F.concat(F.lit("﻿"), F.col("o_orderstatus"))).alias("bom_clean"),
        safe_to_double(raw_valor).alias("valor_parsed"),
    )


def q_union_sheets(spark: SparkSession, sf: str) -> DataFrame:
    """U1 — UNION ALL by name with missing columns null-filled
    (processing_pipeline.py:141)."""
    orders = _t(spark, sf, "orders")
    sheet1 = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice"
    )
    sheet2 = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority"
    )
    return union_all_by_name([sheet1, sheet2])


def q_export_human_layout(spark: SparkSession, sf: str) -> DataFrame:
    """P4+F5+F8 composed — export projection with BR money/date formatting
    folded pre-write (data_exporter.py:33-54; no re-read/rewrite loop)."""
    from python_etl_mailing_automation_spark.pipeline.export import apply_export_layout

    orders = _t(spark, sf, "orders")
    mailing_ish = with_group_sum(orders, "o_custkey", "o_totalprice", "valor_divida").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").cast("string").alias("cpf"),
        "valor_divida",
        F.col("o_orderdate").alias("dtvenc"),
    )
    return apply_export_layout(
        mailing_ish,
        ["okey", "cpf", "valor_divida", "dtvenc"],
        money_columns=["valor_divida"],
    )


def q_sessionization(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (lag + running sum windows; exact µs
    comparisons)."""
    from python_etl_mailing_automation_spark.operators.aggregates import sessionize

    events = _t(spark, sf, "events")
    return sessionize(events, gap_seconds=1800).select(
        "event_id", "user_id", "session_seq"
    )


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join via the union-merge window composition (no native Spark
    as-of; no |L|x|R| range-join explosion — operators/asof.py)."""
    from python_etl_mailing_automation_spark.operators.asof import asof_join

    events = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf, "orders")
    return asof_join(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        value_cols=["o_orderkey"],
        tiebreak_col="o_orderkey",
    ).select("event_id", "user_id", "asof_o_orderkey")


def q_skew_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit salt-spread join for hot keys (operators/skew.py). Output
    is provably identical to the plain join — the oracle IS the plain
    join — while the hot key's rows spread over n shuffle partitions."""
    from python_etl_mailing_automation_spark.operators.skew import salted_join

    orders = _t(spark, sf, "orders")
    customer = _t(spark, sf, "customer")
    out = salted_join(
        orders, customer, skewed_key="o_custkey", small_key="c_custkey", num_salts=8
    )
    return out.select("o_orderkey", "o_custkey", "c_name", "o_totalprice")


def q_value_profile(spark: SparkSession, sf: str) -> DataFrame:
    """A10 — unique-values profile, the diagnostico tool as one
    distributed pass (diagnostico.py:29-57)."""
    from python_etl_mailing_automation_spark.pipeline.diagnostics import (
        profile_unique_values,
    )

    orders = _t(spark, sf, "orders")
    return profile_unique_values(orders, ["o_orderstatus", "o_orderpriority"])


def q_audit_blocklist_clean(spark: SparkSession, sf: str) -> DataFrame:
    """P9/U3 — the laudo leak invariant as a query: after the blocklist
    filter, zero rows may contain a blocklisted value (laudo.py:108-127).
    Expected result: EMPTY (the invariant holds) — the oracle asserts the
    same emptiness."""
    from python_etl_mailing_automation_spark.pipeline.audit import (
        audit_no_blocked_status,
    )

    orders = _t(spark, sf, "orders")
    kept, _ = blocklist_filter(orders, "o_orderpriority", BLOCKLIST)
    return audit_no_blocked_status(
        kept.select("o_orderkey", "o_orderstatus", "o_orderpriority"), BLOCKLIST
    )


def q_window_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time window aggregations, tumbling and sliding, tagged by
    `kind` (operators/aggregates.tumbling_event_counts and
    sliding_event_counts). Tumbling: 1 h windows. Sliding: 1 h windows
    every 30 min — each event in exactly two windows."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        sliding_event_counts,
        tumbling_event_counts,
    )

    events = _t(spark, sf, "events")
    return (
        tumbling_event_counts(events)
        .withColumn("kind", F.lit("tumbling"))
        .unionByName(
            sliding_event_counts(events).withColumn("kind", F.lit("sliding"))
        )
    )


def q_mailing_pipeline_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """FLAGSHIP: the entire composed mailing pipeline
    (pipeline/mailing.py ≈ processar_dados, processing_pipeline.py:297-360)
    run over a mailing synthesized from orders, with enrichment from
    lineitem and removal rules from customer — threshold anti-join, smart
    dedup, per-CPF debt, broadcast phone enrichment, SIM/NÃO flag,
    blocklist filter, priority mapping, segmentation — all one lazy DAG,
    oracle-checked end to end."""
    from python_etl_mailing_automation_spark.config import PipelineConfig
    from python_etl_mailing_automation_spark.pipeline import process_mailing

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    customer = _t(spark, sf, "customer")

    okey, ckey = F.col("o_orderkey"), F.col("o_custkey")
    mailing = orders.select(
        F.when(ckey % 2 == 0, "EPB").otherwise("EMT").alias("empresa"),
        okey.cast("string").alias("ucv"),
        F.when(okey % 7 != 0, F.concat(F.lit("Cliente "), ckey.cast("string"))).alias(
            "nomecad"
        ),
        F.concat(F.lit("d"), ckey.cast("string")).alias("ndoc"),
        ckey.cast("string").alias("ncpf"),
        format_money_br("o_totalprice").alias("valor"),
        F.when(
            (F.col("o_orderstatus") == "F") & (okey % 5 == 0), "BLOQUEADO JUDICIAL"
        ).alias("bloq"),
        F.when(F.col("o_orderstatus") == "O", "LIGADO").otherwise("DESLIGADO").alias("sit"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "Até 30"
        ).otherwise("Mais de 1 ano").alias("faixa"),
        F.when(ckey % 3 == 0, "SIM").otherwise("NÃO").alias("iu12m"),
        F.when(okey % 3 == 1, "N").when(okey % 3 == 2, "S").alias("venc_maior_1ano"),
        F.when(okey % 2 == 0, F.concat(F.lit("(84) "), okey.cast("string"))).alias(
            "ind_telefone_1_valido"
        ),
    )
    enrichment = li.select(
        F.concat(F.lit("d"), (F.col("l_orderkey") % 1500).cast("string")).alias(
            "documento"
        ),
        F.col("l_partkey").cast("string").alias("telefone"),
        F.col("l_extendedprice").alias("pontuacao"),
    )
    regras = customer.select(
        F.col("c_custkey").cast("string").alias("idcliente"),
        F.when(F.col("c_custkey") % 11 == 0, "CLIENTE FALECIDO")
        .otherwise("OUTRO")
        .alias("status"),
    )
    # corte=0 → human and robot are the SAME frame (both-copies mode,
    # processing_pipeline.py:285-288); deriving the segment as a column
    # over that single branch avoids executing the pipeline once per
    # segment and is output-identical to the corte=150000 split.
    cfg = PipelineConfig(
        blocklist=["bloqueado judicial"],
        priority_order=["DESLIGADO", "ATÉ 30"],
        corte_humano_maior_igual=0.0,
        critical_statuses=["CLIENTE FALECIDO"],
        critical_threshold=1,
    )
    res = process_mailing(
        mailing,
        cfg,
        enrichment_sheets=[enrichment],
        regras_disposicao=regras,
        dedup_tiebreaker="ucv",
    )
    return res.human.select(
        F.col("CPF").alias("cpf"),
        F.col("NOME_CLIENTE").alias("nome_cliente"),
        F.col("PRODUTO").alias("produto"),
        F.col("valorDivida").alias("valor_divida"),
        F.col("Cliente_Regulariza").alias("cliente_regulariza"),
        F.col("telefone_01"),
        F.col("telefone_02"),
        F.col("priority_level"),
        F.when(F.col("valorDivida") >= 150_000.0, F.lit("human"))
        .otherwise(F.lit("robot"))
        .alias("segment"),
    )


def q_robot_pipeline_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Stage-3 robot sub-pipeline end to end (gerador_robo_mestre.py:21-140
    ≈ pipeline/robot.py): per-CPF invoice ranking → top-3 → wide pivot →
    explicit-order head row → join → robot money/date formats."""
    from python_etl_mailing_automation_spark.config import PipelineConfig
    from python_etl_mailing_automation_spark.pipeline import build_robot_output

    li = _t(spark, sf, "lineitem")
    # codbarra derives from the ordering columns so rank ties (duplicate
    # synthetic rows) pivot to identical values on any engine.
    robot_df = li.select(
        F.col("l_orderkey").cast("string").alias("cpf"),
        F.col("l_shipdate").alias("dtvenc"),
        F.col("l_extendedprice").alias("liquido"),
        F.md5(
            F.concat(
                F.date_format("l_shipdate", "dd/MM/yyyy"),
                F.format_string("%.2f", F.col("l_extendedprice")),
            )
        ).alias("codbarra"),
        F.when(F.col("l_orderkey") % 2 == 0, "EPB").otherwise("EMT").alias("produto"),
    )
    # valorDivida (A1 debt total) folds into build_robot_output's single
    # aggregation — no separate window pass, one shuffle end to end.
    out = build_robot_output(
        robot_df,
        PipelineConfig(),
        cpf_col="cpf",
        due_col="dtvenc",
        value_col="liquido",
        barcode_col="codbarra",
        sum_total_col="valorDivida",
    )
    return out.select(
        "cpf",
        "produto",
        F.col("valorDivida").alias("valor_divida"),
        F.col("valorTotal").alias("valor_total"),
        *[F.col(f"dataVencimento_{i}").alias(f"data_venc_{i}") for i in (1, 2, 3)],
        *[F.col(f"valorParcela_{i}").alias(f"valor_parcela_{i}") for i in (1, 2, 3)],
        *[F.col(f"codbarra_{i}") for i in (1, 2, 3)],
    )


# ---------------------------------------------------------------------------
# Beyond-reference datapipe queries
# ---------------------------------------------------------------------------


def q_text_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document scoring suite in one entry: whitespace token/char
    counts (datapipe/text.token_count), stopword quality gates
    (quality_score), marker language-ID (lang_id) and Gopher-style
    repetition signals (repetition_metrics). The operators chain — each
    appends columns to the same scan; one battery entry per grain."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        repetition_metrics,
    )

    docs = _t(spark, sf, "documents")
    scored = repetition_metrics(lang_id(quality_score(token_count(docs))))
    return scored.select(
        "doc_id", "n_tokens", "n_chars_calc",
        "n_stop", "stop_ratio", "is_quality",
        "score_en", "score_es", "score_de", "pred_lang",
        "dup_word_frac", "top_2gram_frac", "is_repetitive",
    )


def q_text_transforms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document transform suite: BPE-ish regex tokenization +
    Rabin-Karp rolling hash (datapipe/text.bpe_ish_tokens /
    rolling_hash), the sorted-token-set md5 fingerprint
    (doc_fingerprint), and CCNet-style canonicalization with its dedup
    digest (normalize_text). All scan-speed string algebra on the same
    grain."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        bpe_ish_tokens,
        normalize_text,
        rolling_hash,
    )

    docs = _t(spark, sf, "documents")
    return normalize_text(doc_fingerprint(docs)).select(
        "doc_id",
        F.size(bpe_ish_tokens("text")).cast("long").alias("n_bpe_tokens"),
        rolling_hash("text").alias("rolling_fp"),
        "fingerprint",
        "norm_text",
        "norm_digest",
    )


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    return exact_dedup_groups(docs)


def q_dedup_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document near-dup fingerprints in one entry: the 6 salted-md5
    MinHash components + 3 LSH band keys (datapipe/dedup
    .minhash_signatures) and the 16-bit SimHash. One FUSED scan: the
    SimHash is the per-row fold form (with_simhash16, bit-identical to
    the explode→agg simhash_16), so the whole fingerprint projection is
    shuffle-free column algebra — no join to attach the signatures."""
    from python_etl_mailing_automation_spark.datapipe.dedup import with_simhash16
    from python_etl_mailing_automation_spark.datapipe.text import spread_for_explode

    # Heavy per-row hashing (6 salted minhash passes + 16 bit folds):
    # rebalance a few-split scan first, same byte-undercount rationale
    # as the explode cases (no-op on a real multi-split scan).
    docs = spread_for_explode(_t(spark, sf, "documents"), "doc_id")
    return minhash_signatures(with_simhash16(docs)).select(
        "doc_id",
        *[f"mh_{j}" for j in range(1, 7)],
        *[f"band_{b}" for b in range(1, 4)],
        "simhash16",
    )


def q_dedup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Candidate-pair dedup methods, tagged by `method`: MinHash+LSH band
    join with exact Jaccard verification on candidates only
    (minhash_signatures → lsh_candidate_pairs → jaccard_on_pairs), and
    blocked n-gram Jaccard (ngram_jaccard_pairs, quadratic only within a
    caller-supplied block). Same (doc_id_a, doc_id_b, jaccard) shape."""
    docs = _t(spark, sf, "documents")
    sig = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(sig)
    minhash = jaccard_on_pairs(pairs, docs).withColumn("method", F.lit("minhash_lsh"))
    ngram = ngram_jaccard_pairs(docs, block_col="source", min_jaccard=0.0).withColumn(
        "method", F.lit("ngram_block")
    )
    return minhash.unionByName(ngram)


def q_dedup_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash-64 near-duplicate pairs (datapipe/dedup.with_simhash64 +
    simhash_hamming_pairs): production-width Charikar fingerprints, then
    the Manku et al. WWW'07 banded Hamming search — 4×16-bit bands, a
    self-equi-join on (band_idx, band_value) generates candidates
    (pigeonhole-exact for Hamming <= 3), and bit_count(a XOR b) verifies.
    The SimHash-based candidate generator completing the fingerprint
    family (MinHash bands and SRP buckets are the other two)."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        simhash_hamming_pairs,
    )

    docs = _t(spark, sf, "documents")
    return simhash_hamming_pairs(docs, max_hamming=3)


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over the LSH near-dup pair graph
    (datapipe/dedup.dedup_clusters): iterative min-label propagation;
    every document maps to the min doc id reachable through candidate
    pairs. The one genuinely iterative algorithm in the battery — the
    oracle closes the same fixpoint with a recursive CTE."""
    from python_etl_mailing_automation_spark.datapipe.dedup import dedup_clusters

    docs = _t(spark, sf, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    return dedup_clusters(docs, pairs)


def q_dedup_clusters_star(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over the same LSH pair graph as
    q_dedup_clusters, but via alternating large-star/small-star rounds
    (datapipe/dedup.dedup_clusters_star, Kiveris et al. SoCC'14) —
    O(log² n) rounds independent of graph diameter, the escalation path
    for long-chain duplicate graphs. Identical output contract, so the
    identical recursive-CTE oracle verifies both implementations."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_clusters_star,
    )

    docs = _t(spark, sf, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    return dedup_clusters_star(docs, pairs)


def q_similarity_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding similarity search, exact and IVF, tagged by `method`:
    the brute-force cosine top-k baseline (datapipe/similarity
    .cosine_topk — labeled O(Q·C) exact path) and IVF ANN over a
    TRAINED codebook — the production composition: kmeans_fit_assign
    learns the k=8 coarse quantizer, its centroids broadcast into
    ivf_topk, corpus coarse-quantized to nearest centroid, queries
    probe their 2 nearest cells. The oracle re-derives the codebook
    from the same unrolled Lloyd CTEs as the kmeans_semantic oracle.
    Same (vec_id, neighbor_id, sim_rank, cos_sim) shape."""
    from python_etl_mailing_automation_spark.datapipe.clustering import (
        kmeans_fit_assign,
    )
    from python_etl_mailing_automation_spark.datapipe.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    brute = cosine_topk(emb.filter(F.col("vec_id") < 32), emb, k=5).withColumn(
        "method", F.lit("brute")
    )
    # The fit's n_iter driver-synced actions are the offline index-build
    # phase; the codebook itself is k·dim driver-side floats.
    _, cents = kmeans_fit_assign(emb, k=8, n_iter=2)
    centroids = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "centroid_id int, embedding array<double>",
    )
    ivf = ivf_topk(
        emb.filter(F.col("vec_id") < 16), emb, centroids, n_probe=2, k=3
    ).withColumn("method", F.lit("ivf"))
    return brute.unionByName(ivf)


def q_similarity_ann_buckets(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    return ann_bucket_topk(emb, bits=4, k=3)


def q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-bucket LSH + exact verify
    (datapipe/similarity.py) — the dedup-family member for embeddings.

    The synthetic corpus plants no true near-dups (max same-bucket cosine
    ≈0.3), so the demo threshold is low enough that the oracle compares
    REAL pair rows — bucket join, cosine verify, and filter all
    exercised — rather than two empty sets. Production uses ~0.9."""
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf, "embeddings")
    return embedding_near_dup_pairs(emb, bits=8, min_cos=0.2)


def q_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (datapipe/similarity.pq_train/pq_encode/
    pq_topk, Jégou et al. 2011): m=4 per-subspace Lloyd codebooks (k=8,
    1 iteration, the deterministic md5 seed + grid-exact means the
    kmeans oracles already pin), corpus encoded to 4 codes/vector, and
    asymmetric-distance top-3 for the first 25 vectors — every ADC
    score a BIGINT on the 2^-40 grid, so ranks, ties, and scores
    hash-match the unrolled per-subspace Lloyd CTEs in the oracle.
    Completes the quantization family: int8 (scalar) → PQ (vector)."""
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        pq_topk,
        pq_train,
    )

    emb = _t(spark, sf, "embeddings")
    codebooks = pq_train(emb, m=4, k=8, n_iter=1)
    queries_df = emb.filter(F.col("vec_id") < 25)
    return pq_topk(queries_df, emb, codebooks, k=3)


def q_corpus_curation_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Datapipe flagship composition: quality gate → exact dedup →
    MinHash+LSH near-dup removal → fingerprinted corpus, one lazy plan
    (datapipe/curation.py)."""
    from python_etl_mailing_automation_spark.datapipe.curation import curate_corpus

    docs = _t(spark, sf, "documents")
    return curate_corpus(docs, min_tokens=10, max_stop_ratio=0.5, near_dup_jaccard=0.8)


def q_sampling_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic corpus sampling, tagged by `method`:
    md5-bucket fractional sampling (datapipe/sampling.hash_sample —
    scan-level, shuffle-free), per-source quota sampling
    (stratified_sample — at most 20 docs per source under the
    deterministic md5 order), and per-domain mixture weighting
    (mixture_sample — literal-map keep rates, src0 100%, src1/src2 50%,
    src3 25%, default 10%). All emit (doc_id, source)."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        hash_sample,
        mixture_sample,
        stratified_sample,
    )

    docs = _t(spark, sf, "documents")
    h = hash_sample(docs, 0.25).select("doc_id", "source").withColumn(
        "method", F.lit("hash")
    )
    s = stratified_sample(docs, "source", 20).select("doc_id", "source").withColumn(
        "method", F.lit("stratified")
    )
    m = mixture_sample(
        docs,
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.5, "src3": 0.25},
        default_fraction=0.1,
    ).select("doc_id", "source").withColumn("method", F.lit("mixture"))
    return h.unionByName(s).unionByName(m)


def q_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (datapipe/contamination): flag documents
    sharing any 3-gram shingle with a synthetic 'benchmark' subset
    (every 50th doc). Broadcast semi-join on the shingle key."""
    from python_etl_mailing_automation_spark.datapipe.contamination import (
        flag_contaminated,
    )

    docs = _t(spark, sf, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return flag_contaminated(docs, benchmark)


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (datapipe/pii.redact_pii): deterministic synthetic
    PII (email/CPF/phone/IP built from doc_id) is injected, then counted
    and redacted category-by-category in specificity order. Chained
    regexp expressions in one projection — scan-speed, shuffle-free."""
    from python_etl_mailing_automation_spark.datapipe.pii import redact_pii

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    pad = lambda c, n: F.lpad(c.cast("string"), n, "0")  # noqa: E731
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contato user"), d.cast("string"), F.lit("@example.com"),
            F.lit(" cpf "), pad(d % 1000, 3), F.lit("."), pad((d * 7) % 1000, 3),
            F.lit("."), pad((d * 13) % 1000, 3), F.lit("-"), pad(d % 100, 2),
            F.lit(" tel ("), pad(d % 100, 2), F.lit(") 9"),
            pad((d * 31) % 10000, 4), F.lit("-"), pad((d * 17) % 10000, 4),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" ip "), (d % 256).cast("string"), F.lit("."),
                    ((d * 3) % 256).cast("string"), F.lit("."),
                    ((d * 5) % 256).cast("string"), F.lit("."),
                    ((d * 11) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(injected).select(
        "doc_id", "n_email", "n_cpf", "n_phone", "n_ipv4", "redacted"
    )


def q_sequence_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing (datapipe/packing.pack_sequences): concatenate-
    then-chunk placement of each document into fixed 256-token training
    sequences, packed independently per source shard — one per-shard
    running-sum window, integer arithmetic throughout."""
    from python_etl_mailing_automation_spark.datapipe.packing import (
        pack_sequences,
    )
    from python_etl_mailing_automation_spark.datapipe.text import token_count

    docs = _t(spark, sf, "documents")
    counted = token_count(docs).select("doc_id", "source", "n_tokens")
    return pack_sequences(counted, seq_len=256).select(
        "doc_id", "source", "n_tokens", "start_tok", "first_seq",
        "last_seq", "offset_in_seq", "n_seqs",
    )


def q_dedup_lines(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style line-level boilerplate removal (datapipe/dedup.dedup_lines):
    multi-line documents are synthesized deterministically — a global
    boilerplate line, a per-source promo line, a per-doc unique line,
    then the original text. With min_docs=5 the first two vanish from
    every document, the rest survive. The frequent-line set is broadcast,
    so the corpus-sized line relation is filtered without a join shuffle."""
    from python_etl_mailing_automation_spark.datapipe.dedup import dedup_lines

    docs = _t(spark, sf, "documents")
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("subscribe to our newsletter today"),
            F.concat(F.lit("promo code "), F.col("source")),
            F.concat(
                F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" unique line")
            ),
            F.col("text"),
        ).alias("text"),
    )
    return dedup_lines(lined, min_docs=5).select(
        "doc_id", "text", "n_lines_kept", "n_lines_removed"
    )


def q_corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus composition report (datapipe/stats.corpus_stats): per-source
    doc/token/char totals as exact bigint sums plus shares — one map-side
    combined groupBy; the corpus totals come from a window over the
    20-row aggregate, not the corpus."""
    from python_etl_mailing_automation_spark.datapipe.stats import corpus_stats

    docs = _t(spark, sf, "documents")
    return corpus_stats(docs)


def q_text_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-free text clustering: hashing-trick bag-of-words
    features (datapipe/text.featurize_hashing — md5 token buckets,
    64-dim count vectors, zero shuffle) piped straight into the
    decimal-exact Lloyd k-means (datapipe/clustering.kmeans_fit_assign).
    The composition that turns every embedding operator into a text
    operator when no embedding column exists; the oracle rebuilds the
    identical features in SQL and reuses the unrolled Lloyd CTEs."""
    from python_etl_mailing_automation_spark.datapipe.clustering import (
        kmeans_fit_assign,
    )
    from python_etl_mailing_automation_spark.datapipe.text import (
        featurize_hashing,
    )

    docs = _t(spark, sf, "documents")
    feats = featurize_hashing(docs).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    assigned, _ = kmeans_fit_assign(feats, k=8, n_iter=2)
    return assigned.select(
        F.col("vec_id").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "dist_sq",
    )


def q_corpus_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-length distribution (datapipe/stats
    .length_quantiles): min/max plus EXACT interpolated p25/p50/p90/p99
    of per-doc token counts — the data-card profile a mixture designer
    reads before setting sampling weights. Spark `percentile` and DuckDB
    `quantile_cont` share the rank q·(n−1) linear interpolation, so the
    doubles match bit-exactly on integer token counts."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        length_quantiles,
    )

    docs = _t(spark, sf, "documents")
    return length_quantiles(docs)


def q_multimodal_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal column plumbing end-to-end in one entry: binary payload
    synthesis + typed metadata struct (datapipe/multimodal
    .with_binary_payload) joined with the Arrow-batched mapInPandas
    feature extraction (extract_features). The decode is a deterministic
    stand-in (length + head-hex of the payload), so the Python batch
    path IS oracle-checkable: DuckDB recomputes the same features from
    the same UTF-8 payload bytes."""
    docs = _t(spark, sf, "documents")
    media = with_binary_payload(docs)
    meta = media.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.md5(F.col("media")).alias("payload_md5"),
    )
    features = extract_features(media).drop("n_bytes")
    return meta.join(features, "doc_id")


def q_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus selection (datapipe/sampling.budget_select):
    fill a 10k-token training budget from the top of the quality
    distribution (quality bucket = integer permille of non-stopword
    tokens, doc_id tiebreak). Two-pass at scale: tiny per-bucket
    aggregate + broadcast boundary join; only the single
    boundary-straddling bucket is sorted."""
    from python_etl_mailing_automation_spark.datapipe.sampling import budget_select

    docs = _t(spark, sf, "documents")
    toks = tokens_of("text")
    stop_arr = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to")])
    per = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("long")
        .alias("__stop"),
    ).withColumn(
        "quality_bucket",
        F.expr("(1000 * (n_tokens - __stop)) div n_tokens"),
    )
    return budget_select(
        per.drop("__stop"), 10_000, bucket_col="quality_bucket"
    ).select("doc_id", "quality_bucket", "n_tokens")


def q_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Substring-overlap dedup candidates via winnowing fingerprints
    (datapipe/dedup.winnow_candidate_pairs — Schleimer et al. 2003 /
    Lee et al. 2022): min-hash of each 4-window of 5-gram hashes,
    fingerprint-keyed self-join, stop-gram cut at df>50. Catches
    contiguous copied passages that bag-of-shingles MinHash underweights."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        winnow_candidate_pairs,
    )

    docs = _t(spark, sf, "documents")
    return winnow_candidate_pairs(docs, k=5, window=4, min_shared=2, max_df=50)


def q_kmeans_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-iteration Lloyd k-means + SemDeDup in one entry
    (datapipe/clustering.kmeans_fit_assign / semantic_dedup): k=8
    codebook seeded from the lowest vec_ids, 2 assign→update rounds
    (assignment is a shuffle-free scan against literal centroids; the
    update a k·dim-group aggregate with DECIMAL-exact sums), then
    within-cluster cosine >= 0.4 drops the higher-id duplicate. Output:
    every vector's cluster assignment + dist_sq + a `kept` 0/1 flag
    (kept = survives semantic dedup). 0.4 (not the production 0.95)
    because the synthetic embeddings top out at cos ~0.47."""
    from python_etl_mailing_automation_spark.datapipe.clustering import (
        kmeans_fit_assign,
        semantic_dedup,
    )
    from python_etl_mailing_automation_spark.detach import detach

    emb = _t(spark, sf, "embeddings")
    # SemDeDup's within-cluster pair join is quadratic in CLUSTER SIZE,
    # so the codebook scales with the corpus (k ∝ N, bounded cells —
    # exactly how the published method stays subquadratic; measured 26 s
    # → linear at the 10× tier). k stays 8 at every oracle-checked scale
    # (sf0.01/sf0.1), so the static k=8 oracle CTEs remain exact.
    k = max(8, emb.count() // 2500)
    assigned, _ = kmeans_fit_assign(emb, k=k, n_iter=2)
    # Materialize the assignment once: it feeds BOTH semantic_dedup's
    # cached pair-join base and the final output join, and at scaled k
    # the k·dim-literal assignment scan is the expensive projection.
    assigned = detach(assigned, eager=True)
    kept = semantic_dedup(assigned, min_cos=0.4).select(
        "vec_id", F.lit(1).alias("kept")
    )
    return (
        assigned.select(
            "vec_id", F.col("cluster_id").cast("long").alias("cluster_id"), "dist_sq"
        )
        .join(kept, "vec_id", "left")
        .withColumn("kept", F.coalesce(F.col("kept"), F.lit(0)).cast("int"))
    )


def q_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Keyed interval-containment join (operators/asof.interval_join):
    per-user 24 h windows starting at each user's first event (users with
    user_id%10=0), matched to that user's events. Planned as an
    equi-join on (user, 6 h epoch bin) with the BETWEEN as a
    post-filter — never a broadcast-nested-loop range join."""
    from python_etl_mailing_automation_spark.operators.asof import interval_join

    events = _t(spark, sf, "events")
    iv = (
        events.filter(F.col("user_id") % 10 == 0)
        .groupBy("user_id")
        .agg(F.min("ts").alias("start_ts"))
        .withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 24 HOURS"))
    )
    out = interval_join(
        events, iv, ts_col="ts", on=["user_id"], granularity_s=21600
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("w_start"),
    )


def q_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup against a fingerprint store
    (datapipe/dedup.dedup_against_store). The corpus has no natural exact
    duplicates, so the split plants them deterministically: batch docs
    (doc_id%10>=3) override text to a shared constant at %13 (present in
    the store via %9) and an intra-batch constant at %7; the store is the
    %10<3 slice. Survivors = batch minus store digests minus intra-batch
    repeats (min id wins)."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_against_store,
    )
    from python_etl_mailing_automation_spark.datapipe.text import normalize_text

    docs = _t(spark, sf, "documents")
    batch = docs.filter(F.col("doc_id") % 10 >= 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 0, F.lit("shared with store"))
        .when(F.col("doc_id") % 7 == 0, F.lit("repeated batch doc"))
        .otherwise(F.col("text")),
    )
    store = docs.filter(F.col("doc_id") % 10 < 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 9 == 0, F.lit("shared with store")).otherwise(
            F.col("text")
        ),
    )
    out = dedup_against_store(batch, normalize_text(store))
    return out.select("doc_id", "norm_digest")


_STREAM_SHARED = "the quick brown fox jumps over the lazy dog shared with store"
_STREAM_REPEAT = "the quick brown fox jumps over the lazy dog repeated batch doc"


def q_stream_curation_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-tier document curation (datapipe/curation
    .curate_documents_batch): quality gate → canonical digest → exact
    dedup (min-id representative) → ledger anti-join. Planted
    duplicates use gate-passing 12-token texts (the dedup_incremental
    constants are 3 tokens and would die at the min_tokens gate before
    ever exercising the dedup): batch docs (doc_id%10>=3) share a
    ledger text at %13 and an intra-batch text at %7; the ledger is the
    %10<3 slice with the shared text planted at %9."""
    from python_etl_mailing_automation_spark.datapipe.curation import (
        curate_documents_batch,
    )
    from python_etl_mailing_automation_spark.datapipe.text import normalize_text

    docs = _t(spark, sf, "documents")
    batch = docs.filter(F.col("doc_id") % 10 >= 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 0, F.lit(_STREAM_SHARED))
        .when(F.col("doc_id") % 7 == 0, F.lit(_STREAM_REPEAT))
        .otherwise(F.col("text")),
    )
    store = docs.filter(F.col("doc_id") % 10 < 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 9 == 0, F.lit(_STREAM_SHARED)).otherwise(
            F.col("text")
        ),
    )
    out = curate_documents_batch(batch, normalize_text(store))
    return out.select("doc_id", "norm_digest", "n_tokens")


def q_top_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus heavy-hitter trigrams (datapipe/text.top_ngrams): explode →
    map-side-combined two-level aggregate → TakeOrderedAndProject top-20
    (per-partition heaps, no global sort)."""
    from python_etl_mailing_automation_spark.datapipe.text import top_ngrams

    docs = _t(spark, sf, "documents")
    return top_ngrams(docs, n=3, top_k=20)


def q_semantic_curation_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-modal curation flagship: documents joined to their embedding
    rows (the synthetic tables share the id space), text-side quality
    gate (quality_score over normalize_text) → exact dedup on the
    canonical digest → k-means + SemDeDup fit on the SURVIVORS'
    embeddings only → curated corpus with cluster assignment and a
    kept flag. The embedding filter is a left-semi join (no payload
    duplication); the Lloyd fit runs once and feeds both the assignment
    and the SemDeDup prune (clustering.semantic_dedup over that assignment)."""
    from python_etl_mailing_automation_spark.datapipe.clustering import (
        kmeans_fit_assign,
        semantic_dedup,
    )
    from python_etl_mailing_automation_spark.detach import detach
    from python_etl_mailing_automation_spark.datapipe.text import (
        normalize_text,
        quality_score,
    )

    docs = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    gated = quality_score(
        normalize_text(docs), min_tokens=10, max_stop_ratio=0.5
    ).filter(F.col("is_quality") == 1)
    reps = gated.groupBy("norm_digest").agg(F.min("doc_id").alias("__keep"))
    exact = gated.join(
        reps.withColumnRenamed("norm_digest", "__dg"),
        on=[
            gated["norm_digest"] == F.col("__dg"),
            F.col("doc_id") == F.col("__keep"),
        ],
    ).select("doc_id")
    surv = emb.join(
        exact.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    # Codebook scales with the corpus (see q_kmeans_semantic): bounded
    # cluster cells keep the SemDeDup pair join linear overall. Sized
    # from the raw table count (one cheap scan) — counting the survivors
    # would execute the gate+dedup upstream an extra time.
    k = max(8, emb.count() // 2500)
    assigned, _ = kmeans_fit_assign(surv, k=k, n_iter=2)
    # One materialization feeds the dedup base and the final join (see
    # q_kmeans_semantic).
    assigned = detach(assigned, eager=True)
    kept = semantic_dedup(assigned, min_cos=0.4).select(
        "vec_id", F.lit(1).alias("kept")
    )
    return (
        assigned.select(
            F.col("vec_id").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "dist_sq",
        )
        .join(kept.withColumnRenamed("vec_id", "doc_id"), "doc_id", "left")
        .withColumn("kept", F.coalesce(F.col("kept"), F.lit(0)).cast("int"))
    )


def q_doc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-token sliding-window chunking with overlap
    (datapipe/text.chunk_documents): 32-token chunks, 8-token overlap
    (stride 24) — the context-window splitter for RAG indexing /
    long-doc pretraining. Per-row array algebra + explode; integer chunk
    grid, so the layout is exact and engine-portable."""
    from python_etl_mailing_automation_spark.datapipe.text import chunk_documents

    docs = _t(spark, sf, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


def q_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-3 salient terms under tf·idf order
    (datapipe/text.tfidf_topk), scored as tf/df — rank-equivalent to
    tf·idf for any monotone idf and bit-exact across engines (single
    IEEE division, no ln)."""
    from python_etl_mailing_automation_spark.datapipe.text import tfidf_topk

    docs = _t(spark, sf, "documents")
    return tfidf_topk(docs, k=3)


def q_shard_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic corpus-wide shuffle + 8-way sharding for training
    export (datapipe/sampling.shard_assign): md5-derived shard + within-
    shard position; one shard-keyed shuffle, never a global sort."""
    from python_etl_mailing_automation_spark.datapipe.sampling import shard_assign

    docs = _t(spark, sf, "documents")
    return shard_assign(docs, 8).select("doc_id", "source", "shard", "pos")


def q_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Per-shard export manifest — the sizing/invariant view of a
    sharded training export (datapipe/sampling.shard_assign): row
    count, distinct sources, max
    within-shard position (dense 0-based ⇒ max_pos == n_rows-1), total
    payload chars, and the resulting file count at 1000 rows/file (the
    writer's documented rows-per-file sizing). One shard-keyed shuffle +
    an 8-row aggregate; nothing driver-side."""
    from python_etl_mailing_automation_spark.datapipe.sampling import shard_assign

    docs = _t(spark, sf, "documents")
    sharded = shard_assign(docs, 8)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct(F.col("source")).alias("n_sources"),
        F.max("pos").alias("max_pos"),
        F.sum(F.length("text").cast("long")).alias("sum_chars"),
        F.ceil(F.count(F.lit(1)) / F.lit(1000.0)).cast("long").alias("n_files"),
    )


def q_dedup_ledger_merge(spark: SparkSession, sf: str) -> DataFrame:
    """The write-back half of the incremental-dedup loop
    (datapipe/dedup.updated_fingerprint_store): run dedup_against_store
    with the q_dedup_incremental planted-duplicate setup, then merge the
    accepted batch digests into the ledger — the state the NEXT run's
    anti-join reads. Digest-only union + distinct: one shuffle on the
    32-byte key, no payloads."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_against_store,
        updated_fingerprint_store,
    )
    from python_etl_mailing_automation_spark.datapipe.text import normalize_text

    docs = _t(spark, sf, "documents")
    batch = docs.filter(F.col("doc_id") % 10 >= 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 0, F.lit("shared with store"))
        .when(F.col("doc_id") % 7 == 0, F.lit("repeated batch doc"))
        .otherwise(F.col("text")),
    )
    store = normalize_text(
        docs.filter(F.col("doc_id") % 10 < 3).withColumn(
            "text",
            F.when(F.col("doc_id") % 9 == 0, F.lit("shared with store"))
            .otherwise(F.col("text")),
        )
    )
    accepted = dedup_against_store(batch, store)
    return updated_fingerprint_store(store, accepted)


def _band_ledger_parts(spark: SparkSession, sf: str):
    """Shared setup for the band-ledger pair of queries: documents with
    doc_id % 5 == 0 are the previously-ingested corpus whose LSH band
    keys form the persisted ledger; the rest arrive as the new batch."""
    docs = _t(spark, sf, "documents")
    prior = docs.filter(F.col("doc_id") % 5 == 0)
    new = docs.filter(F.col("doc_id") % 5 != 0)
    ledger = band_entries(minhash_signatures(prior)).select(
        "band_idx", "band_val"
    ).distinct()
    return new, ledger


def q_dedup_band_ledger(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental NEAR-dup gate (datapipe/dedup
    .dedup_against_band_ledger): new documents verdict-tagged against
    the persisted MinHash band ledger — 'ledger_dup' (some band
    collides with the prior corpus's keys), 'batch_dup' (dominated by a
    smaller-id batch doc sharing a band), 'accepted'."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_against_band_ledger,
    )

    new, ledger = _band_ledger_parts(spark, sf)
    return dedup_against_band_ledger(new, ledger).select("doc_id", "verdict")


def q_band_ledger_update(spark: SparkSession, sf: str) -> DataFrame:
    """Write-back half of the band-ledger loop (datapipe/dedup
    .updated_band_ledger): the ledger plus the band keys of this run's
    ACCEPTED documents, distinct — the state the NEXT run's gate
    reads. Band-key-only union, one
    shuffle, no payloads — the near-dup analogue of
    q_dedup_ledger_merge."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_against_band_ledger,
        updated_band_ledger,
    )

    new, ledger = _band_ledger_parts(spark, sf)
    accepted = dedup_against_band_ledger(new, ledger).filter(
        F.col("verdict") == "accepted"
    )
    return updated_band_ledger(ledger, accepted)


def q_gopher_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/MassiveText quality rule set (datapipe/text.gopher_quality,
    Rae et al. 2021 §A1.1): per-document rule measures + the pass flag,
    one shuffle-free whole-stage-codegen scan. min_words=20 is the
    corpus-sized override (synthetic docs run ~30 words); every other
    threshold is the published default."""
    from python_etl_mailing_automation_spark.datapipe.text import gopher_quality

    docs = _t(spark, sf, "documents")
    return gopher_quality(docs, min_words=20).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "alpha_word_frac",
        "stop_hits",
        "dup_line_frac",
        "gopher_pass",
    )


def q_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl URL canonicalization + exact dedup by canonical URL
    (datapipe/web.url_canonical / url_dedup): scheme/www/tracking-param/
    fragment/trailing-slash-insensitive, path case preserved, min doc_id
    representative per canonical group. URLs are synthesized
    deterministically from doc_id (documents carry no url column) with
    deliberately messy variants — uppercase scheme+host, utm params,
    fragments, trailing slashes — that must collapse."""
    from python_etl_mailing_automation_spark.datapipe.web import url_dedup

    docs = _t(spark, sf, "documents")
    variant = F.col("doc_id") % 3
    scheme = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("HTTPS://WWW."))
        .when(F.col("doc_id") % 4 == 1, F.lit("https://"))
        .when(F.col("doc_id") % 4 == 2, F.lit("http://www."))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        scheme,
        F.lit("ex"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".Example.COM/Docs/Page-"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(
            variant == 0,
            F.concat(
                F.lit("?utm_source=feed&id="),
                (F.col("doc_id") % 5).cast("string"),
            ),
        )
        .when(variant == 1, F.lit("/"))
        .otherwise(F.lit("#frag")),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    return url_dedup(with_url).select("doc_id", "url_canon", "host")


_CC_SHARED = "the quick brown fox jumps over the lazy dog near the river bank"
_CC_TRAIN = _CC_SHARED + " with two extras"


def q_cross_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus near-dup decontamination
    (datapipe/contamination.cross_corpus_overlap): MinHash+LSH candidate
    join restricted to train×benchmark sides, exact distinct-token
    Jaccard verify — the scale path when the benchmark can't broadcast
    or leakage is near-verbatim rather than exact. Train = doc_id%10>=3
    with a planted near-copy at %13; benchmark = %10<3 with the shared
    text at %9 (distinct-token Jaccard 11/14 ≈ 0.786 across sides —
    the shared sentence has 11 distinct tokens, 'the' repeating, and
    the train copy adds 3)."""
    from python_etl_mailing_automation_spark.datapipe.contamination import (
        cross_corpus_overlap,
    )

    docs = _t(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 10 >= 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 0, F.lit(_CC_TRAIN)).otherwise(
            F.col("text")
        ),
    )
    bench = docs.filter(F.col("doc_id") % 10 < 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 9 == 0, F.lit(_CC_SHARED)).otherwise(
            F.col("text")
        ),
    )
    return cross_corpus_overlap(train, bench, min_jaccard=0.5)


def q_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """KMV distinct-count sketch (datapipe/stats.kmv_distinct, k=64):
    per-priority estimated distinct customers — deterministic,
    engine-exact cardinality estimation (the estimate itself
    hash-matches the oracle, unlike HLL)."""
    from python_etl_mailing_automation_spark.datapipe.stats import kmv_distinct

    orders = _t(spark, sf, "orders")
    return kmv_distinct(
        orders, "o_custkey", group_col="o_orderpriority", k=64
    )


def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Priority sampling (datapipe/sampling.weighted_sample): top-16
    lineitems per returnflag with inclusion probability proportional
    to quantity — the weighted quota (documents by token count, hosts
    by bytes) the unweighted md5 samplers can't express. The kept set
    is a pure function of (id, weight): q = w·2^60/(h+1), two
    fixed-order double ops, so the sample itself hash-matches the
    oracle."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        weighted_sample,
    )

    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        (F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("rid"),
        F.col("l_quantity").cast("double").alias("qty"),
    )
    return weighted_sample(
        li, 16, "qty", id_col="rid", group_col="l_returnflag"
    )


def q_hll_group_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped HLL (datapipe/sketches.hll_build/hll_estimate with
    group_col): distinct users per event_type — one 512-register
    sketch per group, estimate next to the exact per-group cardinality
    so every row is its own calibration. The grouped shape is the
    production one ("distinct users per domain"); per-group output
    stays bounded at m rows of registers however large the group."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        hll_build,
        hll_estimate,
    )

    ev = _t(spark, sf, "events").filter(F.col("event_type").isNotNull())
    reg = hll_build(ev, "user_id", p=9, group_col="event_type")
    est = hll_estimate(reg, p=9, group_col="event_type").select(
        "event_type",
        F.col("n_registers_used").alias("n_regs"),
        "est_distinct",
    )
    tru = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("true_distinct")
    )
    return est.join(tru, on="event_type")


def q_max_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Sweep-line peak concurrency (datapipe/timeseries
    .max_concurrency): per event_type, the maximum number of
    simultaneously-open sessions — each event opens a half-open
    interval of (event_id % 3600 + 60) seconds — and the earliest
    instant the peak is reached, formatted for cross-engine compare.
    +1/-1 delta explode, one per-key running sum, one keyed max; the
    quadratic per-instant join a naive formulation costs is never
    built."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        max_concurrency,
    )

    ev = _t(spark, sf, "events").withColumn(
        "end_ts",
        F.col("ts")
        + F.make_interval(secs=(F.col("event_id") % 3600 + 60).cast("int")),
    )
    out = max_concurrency(ev, "ts", "end_ts", key_col="event_type")
    return out.select(
        "event_type",
        "peak",
        F.date_format("peak_at", "yyyy-MM-dd HH:mm:ss").alias("peak_at"),
    )


def q_cms_join_size(spark: SparkSession, sf: str) -> DataFrame:
    """Join-cardinality estimation from sketches (datapipe/sketches
    .cms_join_size, AMS inner product): |events ⋈ orders on user =
    custkey| estimated from two KB-sized Count-Min frames, next to
    the exact pair count — the row is the calibration, and the
    estimate can only over-count (cross terms add). The CBO primitive:
    join sizes between corpora without scanning either side."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        cms_build,
        cms_join_size,
    )

    ev = _t(spark, sf, "events")
    ords = _t(spark, sf, "orders")
    ca = cms_build(ev, "user_id", width=512, depth=4)
    cb = cms_build(ords, "o_custkey", width=512, depth=4)
    est = cms_join_size(ca, cb, depth=4).select(
        F.col("est_pairs").cast("long").alias("est_pairs")
    )
    na = ev.filter(F.col("user_id").isNotNull()).groupBy(
        F.col("user_id").alias("k")
    ).agg(F.count(F.lit(1)).alias("na"))
    nb = ords.filter(F.col("o_custkey").isNotNull()).groupBy(
        F.col("o_custkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("nb"))
    tru = (
        na.join(nb, on=na["k"] == nb["k"])
        .agg(
            F.coalesce(
                F.sum(
                    (F.col("na") * F.col("nb")).cast("decimal(38,0)")
                ).cast("long"),
                F.lit(0).cast("long"),
            ).alias("true_pairs")
        )
    )
    return est.crossJoin(tru)


def q_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog cardinality (datapipe/sketches.hll_build /
    hll_estimate, p=9 -> 512 registers): estimated distinct customers
    over orders, with the merge proof IN the result — the same
    estimate from two parity-split shard sketches union+max-merged
    (est_merged must equal est_direct: max is associative), next to
    the true cardinality so the row IS the calibration. The estimate
    itself hash-matches the oracle: integer md5 registers, exact
    dyadic harmonic sum in BIGINT, one fixed-order double expression."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        hll_build,
        hll_estimate,
    )

    ords = _t(spark, sf, "orders")
    direct = hll_build(ords, "o_custkey", p=9)
    ev = hll_build(ords.filter(F.col("o_orderkey") % 2 == 0), "o_custkey", p=9)
    od = hll_build(ords.filter(F.col("o_orderkey") % 2 == 1), "o_custkey", p=9)
    merged = (
        ev.unionByName(od).groupBy("reg_idx").agg(F.max("rho").alias("rho"))
    )
    d = hll_estimate(direct, p=9).select(
        F.col("n_registers_used").alias("n_regs"),
        F.col("est_distinct").alias("est_direct"),
    )
    mg = hll_estimate(merged, p=9).select(
        F.col("est_distinct").alias("est_merged")
    )
    tru = ords.agg(
        F.countDistinct("o_custkey").cast("long").alias("true_distinct")
    )
    return d.crossJoin(mg).crossJoin(tru)


def _copurchase_oriented(spark: SparkSession, sf: str) -> DataFrame:
    """Oriented (src < dst) co-purchase edge list — parts co-occurring
    in >= 2 orders. Used directly by q_triangles; q_pagerank
    symmetrizes it via :func:`_copurchase_edges`."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # Round 10: one groupBy + in-row pair generation instead of the
    # lineitem self-join — the join's row-pair semantics (every pair of
    # lineitem ROWS with pa < pb, same order) are reproduced exactly on
    # the per-order SORTED part multiset: for i < j in sort order every
    # unequal-value row pair appears once, and the y > x filter drops
    # equal-part row pairs just like the strict < join condition. Drops
    # the join and one data-sized exchange (~0.5 s of every co-purchase
    # graph query at sf0.1); the order-item list is order-size bounded
    # (tens), so the row is never wide.
    grp = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("__it")
    )
    pairs = F.expr(
        "flatten(transform(__it, (x, i) ->"
        " transform(filter(slice(__it, i + 2, size(__it)), y -> y > x),"
        " y -> struct(x as pa, y as pb))))"
    )
    return (
        grp.select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.pa").alias("pa"), F.col("__p.pb").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= 2)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )


def _copurchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Directed both-ways form of :func:`_copurchase_oriented` (the
    PageRank input)."""
    und = _copurchase_oriented(spark, sf)
    return und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def q_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection (datapipe/graph.label_propagation, 3
    synchronous rounds) over the co-purchase graph: every node adopts
    its neighbors' majority label (ties to smallest), deterministic by
    construction — the third iterative graph operator next to PageRank
    and the CC closure, splitting dense sub-communities that mere
    reachability merges."""
    from python_etl_mailing_automation_spark.datapipe.graph import (
        label_propagation,
    )

    return label_propagation(_copurchase_oriented(spark, sf), n_iter=3)


def q_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-3-iteration PageRank (datapipe/graph.pagerank, d=0.85) over
    the co-purchase graph — the second iterative graph operator next to
    the CC closure; rank sums ride the 2^-40 fixed-point grid so the
    doubles hash-match the unrolled-CTE oracle."""
    from python_etl_mailing_automation_spark.datapipe.graph import pagerank

    return pagerank(_copurchase_edges(spark, sf), n_iter=3)


def _order_sequence_edges(spark: SparkSession, sf: str) -> DataFrame:
    """DIRECTED graph for the SCC query: an edge src→dst when a part
    bucket (l_partkey % 2001 — scale-stable node space) is immediately
    followed by another bucket in the same order's line sequence
    (l_linenumber is 1..n consecutive), deterministically subsampled to
    mean-degree ~2 via (src·31 + dst) % 7 == 3 so the graph keeps a
    rich condensation (two ~600-node cores + 580 fringe SCCs at
    sf0.01) instead of collapsing into one giant SCC."""
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_partkey") % 2001).alias("bucket"),
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("bucket").alias("src"),
    )
    b = li.select(
        F.col("l_orderkey").alias("ok2"),
        F.col("l_linenumber").alias("ln2"),
        F.col("bucket").alias("dst"),
    )
    return (
        a.join(b, [F.col("ok") == F.col("ok2"), F.col("ln2") == F.col("ln") + 1])
        .filter(F.col("src") != F.col("dst"))
        .filter((F.col("src") * 31 + F.col("dst")) % 7 == 3)
        .select("src", "dst")
        .distinct()
    )


def q_scc(spark: SparkSession, sf: str) -> DataFrame:
    """Strongly connected components (datapipe/graph
    .strongly_connected_components, run-to-fixpoint FW-BW coloring with
    trim) over the directed order-sequence graph — the DIRECTED
    companion to the undirected CC closure, labeling each node with its
    SCC's maximum member id. The canonical max-member labeling is
    algorithm-independent, so the oracle derives it from a recursive
    transitive closure (i↔j mutual-reach pairs) rather than mirroring
    the peel rounds — a genuinely independent check."""
    from python_etl_mailing_automation_spark.datapipe.graph import (
        strongly_connected_components,
    )

    return strongly_connected_components(_order_sequence_edges(spark, sf))


def q_bloom_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter blocklist check (datapipe/sketches.bloom_build/
    bloom_probe, m=4096 bits, k=4): the delinquent customers
    (c_acctbal < 0) become a broadcastable bit-set; every ordering
    customer is probed against it. No false negatives (every actual
    delinquent flags), deterministic false positives at the sized
    rate — the 100 TB replacement for a non-broadcastable semi-join
    build side."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        bloom_build,
        bloom_probe,
    )

    cust = _t(spark, sf, "customer").filter(F.col("c_acctbal") < 0)
    bloom = bloom_build(cust, "c_custkey", m_bits=4096, k_hashes=4)
    probes = _t(spark, sf, "orders").select("o_custkey").distinct()
    return bloom_probe(
        probes, "o_custkey", bloom, m_bits=4096, k_hashes=4,
        out_col="maybe_blocked",
    )


def q_bloom_fpr(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom false-positive CALIBRATION (datapipe/sketches): probe the
    delinquent-customer filter with keys guaranteed absent (custkey +
    10^7 — outside every key range) and count the positives — the
    sketch's advertised rate as a deterministic, oracle-checked number
    instead of a formula in a docstring."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        bloom_build,
        bloom_probe,
    )

    cust = _t(spark, sf, "customer").filter(F.col("c_acctbal") < 0)
    bloom = bloom_build(cust, "c_custkey", m_bits=4096, k_hashes=4)
    probes = (
        _t(spark, sf, "customer")
        .select((F.col("c_custkey") + F.lit(10_000_000)).alias("probe_key"))
        .distinct()
    )
    flagged = bloom_probe(
        probes, "probe_key", bloom, m_bits=4096, k_hashes=4
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_fp"),
        (
            F.sum(F.when(F.col("maybe_member"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("fp_rate"),
    )


def q_cms_freq(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min frequency estimates (datapipe/sketches.cms_build/
    cms_estimate, width=512, depth=4) for every part ordered: the
    sketch holds ≤ width·depth cells however large lineitem grows, and
    estimates only ever overcount — the frequency-cap primitive
    (boilerplate hosts, over-represented n-grams) at corpus scale."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        cms_build,
        cms_estimate,
    )

    li = _t(spark, sf, "lineitem")
    cms = cms_build(li, "l_partkey", width=512, depth=4)
    probes = li.select("l_partkey").distinct()
    return cms_estimate(probes, "l_partkey", cms, width=512, depth=4)


def q_cms_error(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min overcount CALIBRATION (sketches.cms_build/estimate,
    the bloom_fpr sibling): estimates joined against TRUE part
    frequencies — the never-undercounts guarantee and the collision
    overcount distribution as one oracled summary row (n_keys,
    n_exact, max and grid-exact mean overcount)."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        cms_build,
        cms_estimate,
    )

    li = _t(spark, sf, "lineitem")
    cms = cms_build(li, "l_partkey", width=512, depth=4)
    truth = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    est = cms_estimate(truth, "l_partkey", cms, width=512, depth=4)
    err = est.select(
        (F.col("est_cnt") - F.col("true_cnt")).alias("over")
    )
    return err.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("over") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.min("over").cast("long").alias("min_over"),
        F.max("over").cast("long").alias("max_over"),
        (
            F.sum("over").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_over"),
    )


def q_resample_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series regularization (datapipe/timeseries.resample_fill):
    per-user purchase amounts resampled onto a 1-day grid from first to
    last observation, empty days carrying the last value forward — the
    hypertable gap-fill primitive that makes window arithmetic
    meaningful over irregular events."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        resample_fill,
    )

    ev = _t(spark, sf, "events").filter(F.col("event_type") == "purchase")
    out = resample_fill(
        ev, "user_id", "ts", "value", step_seconds=86400
    )
    return out.select(
        "user_id",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "value_filled",
        "observed",
    )


def q_zone_maps(spark: SparkSession, sf: str) -> DataFrame:
    """Per-shard zone maps (datapipe/stats.zone_maps) over lineitem
    partitioned by ship month: min/max/null-count per column + row
    count — the data-skipping index as an inspectable frame; a range
    predicate's prunable-shard fraction read off it is the scan cost
    model."""
    from python_etl_mailing_automation_spark.datapipe.stats import zone_maps

    li = _t(spark, sf, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        F.col("l_orderkey"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
    )
    return zone_maps(li, "ship_month", ["l_orderkey", "price_cents"])


def q_group_ols(spark: SparkSession, sf: str) -> DataFrame:
    """Per-priority OLS trend of order value over time
    (datapipe/stats.group_ols): slope/intercept of totalprice-cents on
    order-day from exact DECIMAL(38,0) moments — engine-exact trend
    detection, the drift question every corpus profile ends with."""
    from python_etl_mailing_automation_spark.datapipe.stats import group_ols

    orders = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_orderdate").cast("double") / F.lit(86400.0))
        .cast("long")
        .alias("day"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return group_ols(orders, "day", "cents", group_col="o_orderpriority")


def q_impute_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Numeric cleaning pipeline (datapipe/stats.impute_missing +
    winsorize_clip): event values on the cents grid, NULLs planted
    deterministically (event_id % 19) then median-imputed per type,
    then clipped to the per-type [p05, p95] envelope — fill and clip
    both from broadcast one-row-per-group boundaries."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        impute_missing,
        winsorize_clip,
    )

    ev = _t(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 19 != 0,
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long"),
        ).alias("cents"),
    )
    filled = impute_missing(
        ev, "cents", strategy="median", group_col="event_type",
        out_col="cents_filled",
    ).drop("cents")
    return winsorize_clip(
        filled, "cents_filled", p_lo=0.05, p_hi=0.95,
        group_col="event_type", out_col="cents_clipped",
    ).select("event_id", "event_type", "cents_filled", "cents_clipped")


def q_kmv_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """KMV set-algebra (datapipe/stats.kmv_jaccard, k=256): Jaccard
    overlap of the URGENT-ordering vs LOW-ordering customer SETS
    estimated from k-row sketches instead of a corpus-sized distinct
    join — deterministic md5, so the estimate itself is oracle-exact."""
    from python_etl_mailing_automation_spark.datapipe.stats import kmv_jaccard

    orders = _t(spark, sf, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    b = orders.filter(F.col("o_orderpriority") == "5-LOW")
    return kmv_jaccard(a, "o_custkey", b, "o_custkey", k=256)


def q_contract_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level contract gate (datapipe/quality.contract_gate): every
    order tagged with the list of row-local constraints it violates —
    a pure projection (quarantine = size(violated) > 0 into a side
    sink)."""
    from python_etl_mailing_automation_spark.datapipe.quality import (
        contract_gate,
    )

    orders = _t(spark, sf, "orders")
    out = contract_gate(
        orders,
        [
            ("not_null", "o_custkey"),
            ("range", "o_totalprice", 1000.0, 500000.0),
            ("accepted", "o_orderstatus", ["O", "F"]),
            ("regexp", "o_orderpriority", "^[1-3]-"),
        ],
    )
    # The driver canonicalizer sorts the pandas frame BEFORE stringifying,
    # so an ARRAY output column crashes it (unhashable list). Flatten to a
    # sorted comma-joined string — '' for the no-violation rows.
    return out.select(
        "o_orderkey",
        F.array_join(F.array_sort("violated"), ",").alias("violated"),
        F.size("violated").alias("n_violated"),
    )


def q_agg_state_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental aggregate-state maintenance (operators/aggregates
    .merge_agg_states): orders split into two date batches, each
    aggregated to per-priority partial states (decimal cent sums +
    counts), then merged WITHOUT rescanning — the oracle computes the
    full aggregate directly, so a green row PROVES merge == re-run."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        merge_agg_states,
    )

    orders = _t(spark, sf, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    cut = "1995-01-01"

    def state(df):
        return df.groupBy("o_orderpriority").agg(
            F.sum("cents").alias("total_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )

    # NULL dates fold into the "old" batch so the two filters PARTITION
    # the table — otherwise NULL-date rows would vanish from both
    # states while the full-aggregate oracle counts them
    old = state(
        orders.filter(
            (F.col("o_orderdate") < F.lit(cut))
            | F.col("o_orderdate").isNull()
        )
    )
    new = state(orders.filter(F.col("o_orderdate") >= F.lit(cut)))
    merged = merge_agg_states(
        [old, new],
        ["o_orderpriority"],
        sum_cols=["total_cents"],
        count_col="n_orders",
    )
    return merged.select(
        "o_orderpriority",
        F.col("total_cents").cast("long").alias("total_cents"),
        "n_orders",
    )


def q_seasonal_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-baseline anomaly flags (datapipe/timeseries
    .seasonal_anomalies): events whose value exceeds 2x their
    (event_type, hour-of-day) mean — grid-exact baselines broadcast
    back, flag as a scan-side projection."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        seasonal_anomalies,
    )

    ev = _t(spark, sf, "events").select("event_id", "ts", "event_type", "value")
    out = seasonal_anomalies(ev, "ts", "event_type", "value", factor=2.0)
    return out.select(
        "event_id", "event_type", "season_bucket", "value", "baseline", "ratio"
    )


def q_stream_loghist_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Per-window log-histogram sketch
    (operators/aggregates.windowed_loghist): quantile sketch state per
    tumbling hour, <= 64 rows per window however many events
    arrive."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        windowed_loghist,
    )

    return windowed_loghist(_t(spark, sf, "events"))


def q_containment_join(spark: SparkSession, sf: str) -> DataFrame:
    """Exact asymmetric containment join (datapipe/ssjoin
    .containment_join_exact): ordered doc pairs with |A∩B|/|A| >= 9/10
    over 3-shingles — the doc-subset detector symmetric Jaccard misses
    when the containing side is much larger; contained-side-only prefix
    pruning, integer acceptance."""
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        containment_join_exact,
    )

    docs = _t(spark, sf, "documents")
    return containment_join_exact(
        docs, "doc_id", "text", threshold=(9, 10), shingle=3
    )


def q_containment_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """The containment-dedup ACTION (datapipe/ssjoin
    .containment_dedup): documents surviving after dropping everything
    >= 9/10 contained (3-shingles) in a larger document — the
    detect/act split of the similarity-join family (containment_join
    is the detector)."""
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        containment_dedup,
    )

    docs = _t(spark, sf, "documents")
    return containment_dedup(
        docs, "doc_id", "text", threshold=(9, 10), shingle=3
    ).select("doc_id", "source")


def q_containment_dedup_fix(spark: SparkSession, sf: str) -> DataFrame:
    """Coverage-preserving containment dedup (datapipe/ssjoin
    .containment_dedup with to_fixpoint=True): rounds drop a document
    only when a containing LARGER document is itself safe (uncontained)
    that round, repeated on survivors to a fixpoint — so every dropped
    doc stays 9/10-covered (3-shingles) by a FINAL survivor, the
    guarantee the one-pass containment_dedup documents as its caveat.
    The oracle unrolls the same rounds as CTEs (the pagerank/pointer-
    jump house idiom); its pair generation skips the prefix filter —
    a pure optimization, legal because the containing side indexes ALL
    tokens, so the accepted pair set is identical."""
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        containment_dedup,
    )

    docs = _t(spark, sf, "documents")
    return containment_dedup(
        docs,
        "doc_id",
        "text",
        threshold=(9, 10),
        shingle=3,
        to_fixpoint=True,
        max_rounds=3,
    ).select("doc_id", "source")


def q_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-2 dimension history (operators/dedup.scd2_intervals): each
    customer's order log becomes validity intervals — valid_from /
    exclusive valid_to / version / is_current — one window on the key,
    deterministic same-timestamp order via the orderkey tiebreak."""
    from python_etl_mailing_automation_spark.operators.dedup import (
        scd2_intervals,
    )

    orders = _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    out = scd2_intervals(
        orders, key="o_custkey", ts_col="o_orderdate", tiebreak="o_orderkey"
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "version",
        "is_current",
    )


def q_dq_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-contract validation (datapipe/quality.constraint_report):
    six constraint kinds over orders — the row-local four fold into ONE
    aggregate pass; unique adds one keyed agg; the FK check is one
    broadcast anti-join against customer."""
    from python_etl_mailing_automation_spark.datapipe.quality import (
        constraint_report,
    )

    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    return constraint_report(
        orders,
        [
            ("not_null", "o_custkey"),
            ("range", "o_totalprice", 0.0, 1000000.0),
            ("accepted", "o_orderstatus", ["O", "F", "P"]),
            ("regexp", "o_orderpriority", "^[1-5]-"),
            ("unique", "o_orderkey"),
            ("fk", "o_custkey", "customer"),
        ],
        fk_tables={"customer": (cust, "c_custkey")},
    )


def q_constraint_offenders(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic violation samples (datapipe/quality
    .constraint_offenders): up to 5 example rows per violated
    constraint from q_dq_report's contract, chosen by md5(row id)
    order so the drill-down set is reproducible across engines — the
    second pass the report's count-first-sample-later scale note
    prescribes. The range bound is tightened and the accepted set
    shrunk so violations actually exist at every sf."""
    from python_etl_mailing_automation_spark.datapipe.quality import (
        constraint_offenders,
    )

    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    return constraint_offenders(
        orders,
        [
            ("range", "o_totalprice", 1000.0, 150000.0),
            ("accepted", "o_orderstatus", ["O", "F"]),
            ("regexp", "o_orderpriority", "^[1-3]-"),
            ("unique", "o_custkey"),
            ("fk", "o_custkey", "customer"),
        ],
        id_col="o_orderkey",
        k=5,
        fk_tables={
            "customer": (cust.filter(F.col("c_custkey") % 7 != 0), "c_custkey")
        },
    )


def q_jaccard_join_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact set-similarity self-join (datapipe/ssjoin, prefix
    filtering per Bayardo et al. 2007): all document pairs with
    3-shingle Jaccard >= 4/5, NO false negatives — the provably
    complete complement to the LSH candidate paths, all accept/reject
    decisions in integer arithmetic."""
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        jaccard_join_exact,
    )

    docs = _t(spark, sf, "documents")
    return jaccard_join_exact(
        docs, "doc_id", "text", threshold=(4, 5), shingle=3
    )


def q_loghist_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable quantile sketch (datapipe/sketches.loghist_build/
    loghist_quantiles): p50/p90/p99 of order-value cents per priority
    from the ≤64-bucket log histogram — the streaming/profile-friendly
    sibling of the exact corpus_quantiles, with 2× bounded relative
    error and exact-integer bucket math (bit length, no floating
    log)."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        loghist_build,
        loghist_quantiles,
    )

    orders = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    sk = loghist_build(orders, "cents", group_col="o_orderpriority")
    return loghist_quantiles(
        sk, [(1, 2), (9, 10), (99, 100)], group_col="o_orderpriority"
    )


def q_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer training (datapipe/tokenizer.bpe_train, 6 merges):
    the ordered merge table learned from the documents corpus via the
    word-frequency compression — one corpus scan, then vocabulary-sized
    rounds with a single driver row each. Merge application is the
    textbook greedy fold (Catalyst `aggregate`), which the oracle
    replicates as a recursive-CTE fold — single-pass replace() is NOT
    equivalent on runs like 'aaaa'."""
    from python_etl_mailing_automation_spark.datapipe.tokenizer import bpe_train

    docs = _t(spark, sf, "documents")
    return bpe_train(docs, "text", n_merges=6)


def q_bpe_segment_holdout(spark: SparkSession, sf: str) -> DataFrame:
    """Train/apply separation for the BPE path: merges learned on the
    EVEN doc_ids only (tokenizer.bpe_train), then applied to the ODD
    held-out half (bpe_segment_join) — so the longest-match fold runs
    on words the trainer may never have seen, the deployment shape of
    a tokenizer. Per held-out doc: token count and an order-pinned
    md5 fingerprint of the full token stream, so the oracle proves the
    EXACT segmentation of unseen text, not just counts. Docs with no
    words produce no row on either engine (bpe_segment_join contract).
    """
    from python_etl_mailing_automation_spark.datapipe.tokenizer import (
        bpe_segment_join,
        bpe_train,
    )

    docs = _t(spark, sf, "documents")
    merges = bpe_train(docs.filter(F.col("doc_id") % 2 == 0), "text", n_merges=6)
    seg = bpe_segment_join(
        docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text"),
        "doc_id",
        "text",
        merges,
    )
    return seg.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.md5(F.array_join("tokens", " ")).alias("doc_fp"),
    )


def q_pca_pc1(spark: SparkSession, sf: str) -> DataFrame:
    """PC1 scores by relational power iteration (datapipe/similarity
    .pca_project_pc1, 8 fixed iterations): the dominant variance
    direction of the embedding space and every vector's projection on
    it — covariance, iterations, and projection all grid-exact, so
    even the eigenvector itself hash-matches the unrolled oracle."""
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        pca_project_pc1,
    )

    return pca_project_pc1(_t(spark, sf, "embeddings"), n_iter=8)


def q_embedding_covariance(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-dimension covariance (datapipe/similarity
    .embedding_covariance): the upper-triangle 64x64 matrix as a
    grid-exact relational frame — the PCA/whitening/decorrelation
    input an embedding-quality audit starts from."""
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        embedding_covariance,
    )

    return embedding_covariance(_t(spark, sf, "embeddings"))


def q_bpe_tokenize_pack(spark: SparkSession, sf: str) -> DataFrame:
    """FLAGSHIP tokenizer-to-export composition: train 6 BPE merges,
    segment every document with the learned vocabulary
    (tokenizer.bpe_train -> bpe_segment_join),
    and pack the token stream into 32-token training chunks — per
    chunk an order-pinned md5 fingerprint, so the oracle verifies the
    EXACT token sequence end to end, not just counts."""
    from python_etl_mailing_automation_spark.datapipe.tokenizer import (
        bpe_segment_join,
        bpe_train,
    )

    docs = _t(spark, sf, "documents")
    merges = bpe_train(docs, "text", n_merges=6)
    # vocabulary-join fast path: fold the merges over distinct words
    # once, join back — ~occurrences/distinct cheaper than folding
    # every word instance (19.5 s -> ~4 s at sf0.1)
    seg = bpe_segment_join(
        docs.select("doc_id", "text"), "doc_id", "text", merges
    )
    tok = seg.select(
        "doc_id", F.posexplode("tokens").alias("pos", "tok")
    )
    return (
        tok.withColumn("chunk_idx", F.expr("CAST(pos div 32 AS INT)"))
        .groupBy("doc_id", "chunk_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_fp"),
        )
    )


def q_rendezvous_shard(spark: SparkSession, sf: str) -> DataFrame:
    """Rendezvous (HRW) sharding (datapipe/sampling.rendezvous_shard):
    every document's shard under 8 AND under 9 shards, with the moved
    flag — the consistent-rebalancing property (a moved row can only
    move TO the new shard, expected 1/9 of rows) is thereby part of
    the oracled result, not just a docstring claim."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        rendezvous_shard,
    )

    docs = _t(spark, sf, "documents").select("doc_id")
    out = rendezvous_shard(
        rendezvous_shard(docs, 8, out_col="shard8"), 9, out_col="shard9"
    )
    return out.select(
        "doc_id",
        "shard8",
        "shard9",
        (F.col("shard8") != F.col("shard9")).alias("moved"),
    )


def q_personalized_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank (datapipe/graph.pagerank with seeds,
    Haveliwala 2002): co-purchase authority RELATIVE to the seed parts
    (partkey % 50 == 0) — teleport mass flows only to seeds, the
    related-items scoring a recommender builds on the same cached
    edge frame as the global ranks."""
    from python_etl_mailing_automation_spark.datapipe.graph import pagerank

    edges = _copurchase_edges(spark, sf)
    seeds = edges.select(F.col("src").alias("node")).distinct().filter(
        F.col("node") % 50 == 0
    )
    return pagerank(edges, n_iter=3, seeds=seeds)


def q_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance resampling (datapipe/lm.dsir_select, Xie et al.
    2023 in the engine's ln-free exact form): target model = the 'src0'
    domain, raw model = the whole corpus; weight = ratio of the two
    average bigram conditional probabilities; deterministic md5-grid
    keep at min(1, 0.25*weight)."""
    from python_etl_mailing_automation_spark.datapipe.lm import dsir_select

    docs = _t(spark, sf, "documents")
    target = docs.filter(F.col("source") == "src0")
    return dsir_select(docs, target, base_rate=0.25)


def q_posting_lists(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted index build (datapipe/text.posting_lists): term → df,
    total tf, ordered posting list. min_df=2 drops hapaxes; no max_df
    here because the synthetic corpus draws from a tiny ubiquitous
    vocabulary (nearly every term sits in >half the docs — any
    boilerplate cut would empty the index); the pre-array max_df cut
    itself is unit- and plan-tested
    (test_posting_lists_frequency_cut_and_order)."""
    from python_etl_mailing_automation_spark.datapipe.text import posting_lists

    docs = _t(spark, sf, "documents")
    return posting_lists(docs, min_df=2)


def q_dataset_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic id-stable train/val/test assignment
    (datapipe/sampling.dataset_split): md5-bucket thresholds on the
    16-bit grid, 90/5/5, engine-reproducible and growth-stable (a doc
    keeps its split forever)."""
    from python_etl_mailing_automation_spark.datapipe.sampling import dataset_split

    docs = _t(spark, sf, "documents")
    return dataset_split(docs).select("doc_id", "source", "split")


def q_sft_format(spark: SparkSession, sf: str) -> DataFrame:
    """Document → SFT chat-formatted training text
    (datapipe/packing.to_prompt_completion + format_chat_text): fixed
    16-token prompt boundary, ChatML-ish tags, char budget column —
    zero shuffles."""
    from python_etl_mailing_automation_spark.datapipe.packing import (
        format_chat_text,
        to_prompt_completion,
    )

    docs = _t(spark, sf, "documents")
    pairs = to_prompt_completion(docs, n_prompt_tokens=16, min_completion_tokens=4)
    return format_chat_text(
        pairs, system="You are a helpful assistant."
    ).select("doc_id", "chat_text", "chat_n_chars")


def q_window_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic-window breadth on one partitioning: ntile quartiles,
    percent_rank, cume_dist, lead/lag of order value per customer under
    a total (date, key) order — one shuffle serves all five."""
    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


def q_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count (datapipe/dedup.triangle_count, Suri-Vassilvitskii
    oriented two-join) over the co-purchase graph (parts co-occurring in
    >= 2 orders) — the graph-metric composition on top of the
    market-basket pairs."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        triangle_count,
    )

    return triangle_count(_copurchase_oriented(spark, sf))


def q_dup_spans_excise(spark: SparkSession, sf: str) -> DataFrame:
    """The removal half of dup_spans (datapipe/dedup.remove_dup_spans):
    tokens under corpus-duplicated 8-windows excised, text rebuilt —
    the Lee et al. training-set transform itself."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        remove_dup_spans,
    )

    docs = _t(spark, sf, "documents")
    return remove_dup_spans(docs, k=8)


def q_json_props(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured column processing: the events.props JSON string
    parsed at scan speed (get_json_object — Jackson-based, no UDF) and
    aggregated per event_type: count, distinct k values, exact mean of
    k on the integer grid."""
    events = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("k").alias("n_k"),
            (
                F.sum("k").cast("double") / F.count("k").cast("double")
            ).alias("mean_k"),
        )
    )


def q_unpivot_melt(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long UNPIVOT (Spark `unpivot`, the inverse of the rank_pivot
    surface): customer metrics melted to (key, metric, value) rows —
    per-row expansion, no shuffle."""
    cust = _t(spark, sf, "customer")
    wide = cust.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot(
        "c_custkey", ["acctbal", "nationkey"], "metric", "value"
    )


def q_zorder_key(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order clustering key (operators/ordering.morton_key): custkey ×
    order-day bits interleaved — the multi-dim data-skipping layout key;
    range-partitioning and sorting files by it gives every file a tight
    2-D bounding box for min/max pruning."""
    from python_etl_mailing_automation_spark.operators.ordering import (
        morton_key,
    )

    orders = _t(spark, sf, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
    )
    return orders.select(
        "o_orderkey",
        morton_key(F.col("o_custkey"), day, bits=16).alias("zkey"),
    )


def _synthetic_point(key: F.Column, axis: str, mod: int) -> F.Column:
    """Deterministic md5-derived integer coordinate in [0, mod)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(key.cast("string"), F.lit(f"|{axis}"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % mod
    )


def q_topk_others(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 customers by revenue per order priority with the tail
    collapsed into OTHER (operators/aggregates.topk_with_others) —
    the reporting rollup a bare top-k silently drops; revenue on the
    10^-4 cent grid so every sum is a BIGINT fold. Ranks deterministic
    under ties (sum DESC, custkey ASC)."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        topk_with_others,
    )

    cents = F.floor(
        F.col("o_totalprice") * F.lit(1e4) + F.lit(0.5)
    ).cast("long")
    return topk_with_others(
        _t(spark, sf, "orders"), "o_orderpriority", "o_custkey", cents, k=5
    )


def q_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini spend concentration (datapipe/stats.gini_concentration) of
    order totals per order priority: rank-weighted closed form on the
    2^20 grid, DECIMAL sums, one fixed double expression — the
    skew-design profile ("do 1% of keys carry 90% of volume") as an
    oracled statistic."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        gini_concentration,
    )

    return gini_concentration(
        _t(spark, sf, "orders"),
        "o_totalprice",
        group_col="o_orderpriority",
        order_cols=["o_orderkey"],
    )


def q_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """MMR diversified re-ranking (datapipe/similarity.mmr_topk,
    lam=0.5, k=10 over the top-64 by relevance): query = vec 7's
    embedding; each round picks argmax 0.5·rel − 0.5·max-sim-to-
    selected with the penalty maintained incrementally against
    broadcast winner vectors — zero joins, k bounded collects. The
    oracle replays the rounds with max-over-set pair cosines (float
    max is order-independent, so greatest-chain == max-over-set
    exactly)."""
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        mmr_topk,
    )

    emb = _t(spark, sf, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    ]
    return mmr_topk(
        qv,
        emb.filter(F.col("vec_id") != 7),
        k=10,
        lam=0.5,
        n_candidates=64,
    )


def q_set_cover(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy coverage-maximizing selection (datapipe/curation
    .greedy_set_cover, k=8) over documents' distinct 3-shingles: each
    round picks the doc adding the most uncovered shingles (ties to
    the smallest id) — the submodular-curation baseline ("which 8 docs
    summarize the corpus"), deterministic so the oracle replays the
    same rounds."""
    from python_etl_mailing_automation_spark.datapipe.curation import (
        greedy_set_cover,
    )
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        exploded_shingles,
    )

    docs = _t(spark, sf, "documents")
    facets = exploded_shingles(docs, out="facet")
    return greedy_set_cover(facets, k=8)


def q_dictionary_phrases(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-pattern phrase matching (datapipe/text
    .dictionary_phrase_matches): a 5-phrase dictionary against every
    document in ONE posting join + ONE offset-aligned aggregate —
    count == phrase length ⇔ contiguous occurrence; the blocklist
    matcher where a per-phrase loop would rescan the corpus
    |dictionary| times."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        dictionary_phrase_matches,
    )

    phrases = spark.createDataFrame(
        [
            (1, "key agg row"),
            (2, "table value"),
            (3, "fast table"),
            (4, "a a the"),
            (5, "sort sort sort"),
        ],
        "phrase_id long, phrase string",
    )
    return dictionary_phrase_matches(_t(spark, sf, "documents"), phrases)


def q_ktruss(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded 3-truss peeling (datapipe/graph.ktruss, 2 rounds) over
    the co-purchase graph: edges in >= 1 triangle within the
    surviving subgraph, with final support recomputed on the
    survivors — the edge-level cohesion filter next to kcore's
    node-level one (a hub star is a 2-core with zero triangles; a
    truss edge is community backbone). Oracle unrolls the same
    rounds."""
    from python_etl_mailing_automation_spark.datapipe.graph import ktruss

    return ktruss(_copurchase_oriented(spark, sf), k=3, max_rounds=2)


def q_random_walks(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic uniform random walks (datapipe/graph.random_walks,
    4 steps, salted-md5 neighbor choice over row_number-indexed
    adjacency) from every node of the directed order-sequence graph —
    the DeepWalk/node2vec corpus-builder shape, replayable on any
    engine; dead ends stop and record their truncation. The oracle
    replays the same 4 rounds as generated CTEs."""
    from python_etl_mailing_automation_spark.datapipe.graph import (
        random_walks,
    )

    return random_walks(_order_sequence_edges(spark, sf), walk_length=4)


def q_density_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Grid DBSCAN (datapipe/spatial.density_clusters, eps=800,
    min_pts=10) over the customers' synthetic point cloud: bucketed
    radius join → degree filter → CC closure over core-core edges →
    deterministic min-label border assignment. 432 core / 595 border /
    473 noise across 39 clusters at sf0.01 — all three roles and the
    tie-breaks exercised; the oracle is the quadratic neighborhood +
    recursive reachability the engine never builds."""
    from python_etl_mailing_automation_spark.datapipe.spatial import (
        density_clusters,
    )

    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"),
        _synthetic_point(F.col("c_custkey"), "x", 20000).alias("x"),
        _synthetic_point(F.col("c_custkey"), "y", 20000).alias("y"),
    )
    return density_clusters(cust, eps=800, min_pts=10)


def q_subtree_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """BOM-style recursive aggregate (operators/hierarchy
    .subtree_rollup): parts form a decimal tree (parent = partkey/10),
    each part's value is its total lineitem quantity; every node rolls
    up its whole descendant subtree in ⌈log₂ depth⌉ closure squarings +
    ONE keyed fold — the recursive-CTE aggregate Spark lacks, which is
    exactly what the DuckDB oracle uses."""
    from python_etl_mailing_automation_spark.operators.hierarchy import (
        subtree_rollup,
    )

    qty = (
        _t(spark, sf, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("__q"))
    )
    nodes = (
        _t(spark, sf, "part")
        .select(
            F.col("p_partkey").alias("node"),
            F.when(
                F.col("p_partkey") >= 10,
                F.floor(F.col("p_partkey") / F.lit(10)).cast("long"),
            ).alias("parent"),
        )
        .join(qty, F.col("node") == F.col("l_partkey"), "left")
        .select(
            "node",
            "parent",
            F.coalesce("__q", F.lit(0)).cast("long").alias("value"),
        )
    )
    return subtree_rollup(nodes)


def q_proximity_join(spark: SparkSession, sf: str) -> DataFrame:
    """Grid-bucketed radius join (datapipe/spatial.proximity_join_grid):
    customers vs suppliers as md5-derived integer points on a 20000²
    grid, pairs within distance 1000 — 9-cell neighborhood equi-join +
    exact BIGINT squared-distance verify; the oracle runs the
    quadratic cross the engine never builds. No trig, no float at the
    radius boundary."""
    from python_etl_mailing_automation_spark.datapipe.spatial import (
        proximity_join_grid,
    )

    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"),
        _synthetic_point(F.col("c_custkey"), "x", 20000).alias("x"),
        _synthetic_point(F.col("c_custkey"), "y", 20000).alias("y"),
    )
    supp = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("id"),
        _synthetic_point(F.col("s_suppkey"), "sx", 20000).alias("x"),
        _synthetic_point(F.col("s_suppkey"), "sy", 20000).alias("y"),
    )
    return proximity_join_grid(cust, supp, radius=1000)


def q_weighted_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact weighted quantiles (datapipe/stats.weighted_quantiles):
    per return flag, the price quartiles weighted by QUANTITY — integer-
    rational reach test (cum·den >= num·W in BIGINT), distinct-value
    collapse before the cumulative sum, no float fraction-of-total."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        weighted_quantiles,
    )

    return weighted_quantiles(
        _t(spark, sf, "lineitem"),
        "l_extendedprice",
        "l_quantity",
        [(1, 4), (1, 2), (3, 4), (9, 10)],
        group_col="l_returnflag",
    )


def q_merkle_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Merkle reconciliation (datapipe/quality.merkle_table_diff,
    levels=2 fanout=8) between orders and a perturbed twin (~1% rows
    deleted, ~1% prices flipped): every changed key localizes to a
    mismatched leaf bucket while matched parents prove where a repair
    descent would stop — table-equality at 100 TB without a row-level
    join. BIT_XOR bucket digests, bucket-cardinality compare joins."""
    from python_etl_mailing_automation_spark.datapipe.quality import (
        merkle_table_diff,
    )

    base = _t(spark, sf, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        "o_orderstatus",
    )
    twin = base.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "price",
        F.when(F.col("o_orderkey") % 101 == 0, -F.col("price")).otherwise(
            F.col("price")
        ),
    )
    return merkle_table_diff(
        base, twin, "o_orderkey", ["price", "o_orderstatus"],
        levels=2, fanout=8,
    )


def q_interval_union(spark: SparkSession, sf: str) -> DataFrame:
    """Covered-time union (datapipe/timeseries.interval_union_length):
    per user, total seconds actually covered by their (overlapping)
    sessions — the same synthetic intervals as q_max_concurrency; a
    plain SUM(end-start) double-counts every overlap. Running-max
    sweep + two keyed aggregates on one exchange, exact epoch-µs."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        interval_union_length,
    )

    ev = _t(spark, sf, "events").withColumn(
        "end_ts",
        F.col("ts")
        + F.make_interval(secs=(F.col("event_id") % 3600 + 60).cast("int")),
    )
    return interval_union_length(
        ev, "ts", "end_ts", key_col="user_id", order_cols=["event_id"]
    )


def q_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps-law vocabulary growth (datapipe/text.vocab_growth):
    cumulative tokens vs cumulative distinct types scanning documents
    in doc_id order — first-occurrence aggregation, never a running
    set; the global prefix runs over the per-doc aggregate (cardinality
    = docs)."""
    from python_etl_mailing_automation_spark.datapipe.text import vocab_growth

    return vocab_growth(_t(spark, sf, "documents"))


def q_benford(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit screen (datapipe/stats.benford_profile) on
    order totals per order priority: leading digit via decimal string
    algebra (no float log10), all nine digit rows per group, chi-square
    as a FIXED-ORDER nine-term expression over one pivoted aggregate —
    the float-sum-order trap a row-wise SUM would hit."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        benford_profile,
    )

    return benford_profile(
        _t(spark, sf, "orders"), "o_totalprice", group_col="o_orderpriority"
    )


def q_sequence_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """Event-sequence regex (operators/funnel.sequence_pattern_counts):
    per user, count non-overlapping 'v[ce]*p' runs — a view, any mix of
    clicks/errors, then a purchase — over the full typed event string;
    the MATCH_RECOGNIZE-shaped query the fixed-stage funnel can't
    express (optional/repeated middle steps). One exchange; regex once
    per key."""
    from python_etl_mailing_automation_spark.operators.funnel import (
        sequence_pattern_counts,
    )

    return sequence_pattern_counts(
        _t(spark, sf, "events"),
        "user_id", "ts", "event_type",
        mapping={
            "view": "v", "click": "c", "purchase": "p",
            "signup": "s", "error": "e",
        },
        pattern="v[ce]*p",
        order_cols=["event_id"],
    )


def q_hilbert_key(spark: SparkSession, sf: str) -> DataFrame:
    """Hilbert-curve clustering key (operators/ordering
    .with_hilbert_key): the locality-tighter sibling of q_zorder_key
    over the same (custkey, order-day) plane — continuous curve, no
    Z-order diagonal jumps, so two-column min/max pruning touches
    fewer files at equal file size. The oracle replays the same
    rotate-and-flip state machine as 16 generated CTEs."""
    from python_etl_mailing_automation_spark.operators.ordering import (
        with_hilbert_key,
    )

    orders = _t(spark, sf, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
    )
    out = with_hilbert_key(
        orders.select("o_orderkey", F.col("o_custkey").alias("__x"), day.alias("__y")),
        "__x", "__y", bits=16,
    )
    return out.select("o_orderkey", "hkey")


def q_session_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionized conversion: gap-sessionization (operators/aggregates
    .sessionize) composed with the ordered funnel (operators/funnel
    .funnel_stages) partitioned per (user, session) — how far each
    SESSION got through view→click→purchase. Both pieces reuse their
    already-oracled window machinery on a composite key."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        sessionize,
    )
    from python_etl_mailing_automation_spark.operators.funnel import (
        funnel_stages,
    )

    events = _t(spark, sf, "events")
    sess = sessionize(events).withColumn(
        "__sk",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("|"),
            F.col("session_seq").cast("string"),
        ),
    )
    fun = funnel_stages(sess, ["view", "click", "purchase"], user_col="__sk")
    return fun.select(
        F.split(F.col("__sk"), r"\|")[0].cast("long").alias("user_id"),
        F.split(F.col("__sk"), r"\|")[1].cast("long").alias("session_seq"),
        "stages_reached",
    )


def q_snowflake_join(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-style snowflake chain (lineitem ⨝ orders ⨝ customer ⨝
    nation ⨝ region): revenue per (region, year). The fact table joins
    up the dimension chain — Catalyst broadcasts every dimension
    (plan-asserted: zero sort-merge joins), the one shuffle is the final
    group-by, and revenue accumulates in DECIMAL (order-independent)."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    # revenue on the 10^-4 integer grid (floor(x·10^4 + 0.5) — identical
    # double ops in both engines; a direct DOUBLE→DECIMAL cast rounds
    # differently across engines, see datapipe/clustering.py)
    rev_i = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(1e4)
        + F.lit(0.5)
    ).cast("long")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region"),
            F.year(F.col("o_orderdate").cast("timestamp")).alias("year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(rev_i).cast("double") / F.lit(1e4)).alias("revenue"),
        )
    )


def q_hierarchy_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Forest flattening by pointer jumping (operators/hierarchy
    .pointer_jump_roots, O(log depth) self-joins): customers arranged
    as the binary tree parent(k)=k div 2 — every node resolved to its
    root and exact depth; recursive-CTE oracle walks the same chains."""
    from python_etl_mailing_automation_spark.operators.hierarchy import (
        pointer_jump_roots,
    )

    cust = _t(spark, sf, "customer")
    edges = cust.select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") <= 1, F.col("c_custkey"))
        .otherwise(F.expr("c_custkey div 2"))
        .alias("parent"),
    )
    return pointer_jump_roots(edges)


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot CDC diff (operators/dedup.snapshot_diff): yesterday's
    customer table vs an in-query tomorrow (every 10th key deleted,
    every 7th rebalanced, 49 inserts) classified insert/update/delete
    with the changed-column list."""
    from python_etl_mailing_automation_spark.operators.dedup import (
        snapshot_diff,
    )

    cust = _t(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    modified = cust.filter(F.col("c_custkey") % 10 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(1.0)
        ).otherwise(F.col("c_acctbal")),
    )
    inserts = cust.filter(F.col("c_custkey") < 50).select(
        (F.col("c_custkey") + F.lit(2_000_000)).alias("c_custkey"),
        "c_name",
        "c_acctbal",
        "c_mktsegment",
    )
    new = modified.unionByName(inserts)
    return snapshot_diff(cust, new, key="c_custkey")


def q_skew_kurt(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-lang skewness/kurtosis of n_chars (datapipe/stats
    .exact_skew_kurt): integer raw moments to m3/m2^1.5 and m4/m2² —
    the distribution-shape data card, engine-exact."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        exact_skew_kurt,
    )

    docs = _t(spark, sf, "documents").select("lang", "n_chars")
    return exact_skew_kurt(docs, "n_chars", group_col="lang")


def q_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-lang z-score of n_chars (datapipe/stats
    .zscore_normalize): integer moments in DECIMAL(38,0), floating
    point only in the final fixed-order expression."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        zscore_normalize,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return zscore_normalize(docs, "n_chars", group_col="lang")


def q_exact_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Pearson correlation quantity↔extendedprice-cents per
    returnflag (datapipe/stats.exact_corr): all five moments exact
    integers — unlike corr(), whose streaming co-moments are
    merge-order-dependent on a real cluster."""
    from python_etl_mailing_automation_spark.datapipe.stats import exact_corr

    li = _t(spark, sf, "lineitem").select(
        F.col("l_returnflag"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return exact_corr(li, "qty", "cents", group_col="l_returnflag")


def q_pseudonymize(spark: SparkSession, sf: str) -> DataFrame:
    """Join-preserving pseudonymization (datapipe/pii.pseudonymize):
    salted per-column md5 tokens over customer name/segment; the
    demonstration keeps c_custkey so the oracle can verify token
    determinism AND cross-column unlinkability."""
    from python_etl_mailing_automation_spark.datapipe.pii import pseudonymize

    cust = _t(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return pseudonymize(cust, ["c_name", "c_mktsegment"], salt="s1")


def q_copurchase_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent co-occurring part pairs within orders (the market-basket
    candidate-generation pass): lineitem self-joined on o_orderkey with
    a < b ordering, pair counts, support >= 3. Per-basket pair fan-out
    is quadratic in BASKET size only (~7 for TPC-H), shuffles key on
    the uniform orderkey — linear in orders at any corpus scale."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pb")
    )
    pairs = a.join(
        b, on=[F.col("ok") == F.col("ok2"), F.col("pa") < F.col("pb")]
    )
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )


def q_rollup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-level ROLLUP aggregation (Spark `rollup` ≡ SQL GROUP BY
    ROLLUP): per (lang, source), per lang, and grand-total document
    counts + exact token sums with grouping_id disambiguating NULL
    group values from rollup levels. One shuffle; Catalyst expands the
    grouping sets map-side."""
    from python_etl_mailing_automation_spark.datapipe.text import tokens_of

    docs = _t(spark, sf, "documents").select(
        "lang", "source", F.size(tokens_of("text")).cast("long").alias("__nt")
    )
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("n_tokens"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select("lang", "source", "gid", "n_docs", "n_tokens")
    )


def q_cube_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Full CUBE aggregation (Spark `cube` ≡ SQL GROUP BY CUBE) —
    ROLLUP's complement covering ALL grouping sets incl. the
    source-only margin: order counts + exact decimal cent sums per
    (priority, status), each margin, and the grand total, with
    grouping_id disambiguating genuine NULLs from margin rows. One
    shuffle; Catalyst expands the 4 grouping sets map-side."""
    orders = _t(spark, sf, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select("o_orderpriority", "o_orderstatus", "gid", "n_orders",
                "total_cents")
    )


def q_period_over_period(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly event counts per type with previous-period delta: the
    tumbling aggregation (operators/aggregates.tumbling_event_counts shape)
    re-windowed by a lag over the AGGREGATED series — the second window
    touches O(hours × types) rows, not events."""
    events = _t(spark, sf, "events")
    hourly = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    return hourly.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        (F.col("n") - F.lag("n").over(w)).alias("delta"),
    )


def q_retrieval_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """RAG retrieval composition: chunk the corpus (text.chunk_documents,
    32-token windows / stride 24) → hashing-trick chunk vectors
    (text.featurize_hashing) → exact cosine top-3 chunks per query doc
    (similarity.cosine_topk; query side is 4 docs — the small side of
    the labeled brute-force product). The full embedding-free retrieval
    index build + search, each stage reusing its already-oracled piece."""
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        cosine_topk,
    )
    from python_etl_mailing_automation_spark.datapipe.text import (
        chunk_documents,
        featurize_hashing,
    )

    docs = _t(spark, sf, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8).withColumn(
        "cid",
        F.lit(1_000_000) + F.col("doc_id") * 1000 + F.col("chunk_idx"),
    )
    corpus = featurize_hashing(
        chunks, id_col="cid", text_col="chunk_text"
    ).select(F.col("cid").alias("vec_id"), "embedding")
    queries = featurize_hashing(docs.filter(F.col("doc_id") < 4)).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    out = cosine_topk(queries, corpus, k=3)
    return out.select(
        "vec_id",
        "neighbor_id",
        F.expr("(neighbor_id - 1000000) div 1000").alias("neighbor_doc"),
        (F.col("neighbor_id") % 1000).alias("neighbor_chunk"),
        "sim_rank",
        "cos_sim",
    )


def q_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Per-lang fixed-width histogram of n_chars (datapipe/stats
    .value_histogram): min/max broadcast back, floor-bin count agg,
    sparse bins only."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        value_histogram,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return value_histogram(docs, "n_chars", n_bins=20, group_col="lang")


def q_entity_resolution(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution end-to-end: SymSpell fuzzy pairs between the
    clean customer list and its corrupted feed (operators/linkage) →
    connected-component closure (datapipe/dedup.dedup_clusters) →
    min-id representative per entity cluster. The round's linkage +
    clustering machinery composed the way a dirty-CRM merge uses it;
    oracle closes the same fixpoint with a recursive CTE. Restricted to
    custkey < 300 so the oracle's closure stays small at gate scale."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_clusters,
    )
    from python_etl_mailing_automation_spark.operators.linkage import (
        fuzzy_join_edit,
    )

    cust = _t(spark, sf, "customer").filter(F.col("c_custkey") < 300)
    left = cust.select(
        F.col("c_custkey").alias("lid"),
        F.lower(F.col("c_name")).alias("lname"),
    )
    s = F.lower(F.col("c_name"))
    p = (F.col("c_custkey") % F.length(s)) + F.lit(1)
    right = cust.select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("rid"),
        F.concat(
            F.substr(s, F.lit(1), p - F.lit(1)),
            F.substr(s, p + F.lit(1), F.length(s)),
        ).alias("rname"),
    )
    pairs = fuzzy_join_edit(
        left, right, left_id="lid", right_id="rid",
        left_col="lname", right_col="rname", max_dist=1,
    ).select(
        F.col("lid").alias("doc_id_a"), F.col("rid").alias("doc_id_b")
    )
    nodes = left.select(F.col("lid").alias("doc_id")).unionByName(
        right.select(F.col("rid").alias("doc_id"))
    )
    clusters = dedup_clusters(nodes, pairs, max_iterations=50)
    return clusters.select(
        F.col("doc_id").alias("entity_id"),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_rep"),
    )


def q_not_in_semantics(spark: SparkSession, sf: str) -> DataFrame:
    """SQL NOT IN under three-valued logic (operators/joins
    .anti_join_not_in), two tagged branches: a clean subquery (plain
    null-aware anti join) and one poisoned with a NULL (must yield ZERO
    rows — the 3VL trap left_anti silently gets wrong)."""
    from python_etl_mailing_automation_spark.operators.joins import (
        anti_join_not_in,
    )

    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    clean_keys = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(F.col("c_custkey").alias("bk"))
    )
    null_keys = clean_keys.unionByName(
        cust.limit(1).select(F.lit(None).cast("long").alias("bk"))
    )
    a = anti_join_not_in(
        cust, clean_keys, df_key="c_custkey", keys_key="bk"
    ).withColumn("method", F.lit("clean"))
    b = anti_join_not_in(
        cust, null_keys, df_key="c_custkey", keys_key="bk"
    ).withColumn("method", F.lit("with_null"))
    return a.unionByName(b).select("method", "c_custkey", "c_mktsegment")


def q_source_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-source total-variation divergence vs the corpus unigram
    mix (datapipe/stats.token_tv_divergence): integer-numerator decimal
    sums, absent-token mass folded in analytically — ln-free KL stand-in
    for distribution-shift data cards."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        token_tv_divergence,
    )

    docs = _t(spark, sf, "documents")
    return token_tv_divergence(docs, group_col="source")


def q_debounce(spark: SparkSession, sf: str) -> DataFrame:
    """Burst debounce (operators/aggregates.debounce_events): first
    event of each (user, type) burst, 10-min gap rule, one lag window."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        debounce_events,
    )

    events = _t(spark, sf, "events")
    out = debounce_events(
        events,
        key_cols=["user_id", "event_type"],
        gap_s=600,
        tiebreak_col="event_id",
    )
    return out.select("event_id", "user_id", "event_type")


def q_rolling_spend(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 24 h per-user rolling count/sum (operators/aggregates
    .rolling_window_sum): RANGE frame over epoch micros, integer-cent
    exact totals."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        rolling_window_sum,
    )

    events = _t(spark, sf, "events").withColumn(
        "cents",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long"),
    )
    out = rolling_window_sum(
        events, key_cols=["user_id"], value_col="cents", window_s=86400
    )
    return out.select("event_id", "user_id", "rolling_n", "rolling_sum")


def q_rolling_spend_binned(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME trailing 24 h rolling count/sum as rolling_spend, via
    the skew-parallel binned decomposition (operators/aggregates
    .rolling_window_sum_binned): same-bin prefix + probe-row prev-bin
    suffix, every window partitioned by (user, day-bin) so a hot
    user's serial scan shrinks to one bin. Shares rolling_spend's
    oracle verbatim — the two plans must be indistinguishable by
    result."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        rolling_window_sum_binned,
    )

    events = _t(spark, sf, "events").withColumn(
        "cents",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long"),
    )
    out = rolling_window_sum_binned(
        events,
        key_cols=["user_id"],
        id_col="event_id",
        value_col="cents",
        window_s=86400,
    )
    return out.select("event_id", "user_id", "rolling_n", "rolling_sum")


def q_fk_orphans(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit (pipeline/diagnostics
    .fk_orphan_stats): per-relation orphan counts; the third relation
    restricts the parent in-query so detection (not just clean tables)
    is exercised."""
    from python_etl_mailing_automation_spark.pipeline.diagnostics import (
        fk_orphan_stats,
    )

    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    ev = _t(spark, sf, "events")
    return fk_orphan_stats(
        [
            ("orders->customer", orders, "o_custkey", cust, "c_custkey"),
            ("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
            (
                "events->customer_small",
                ev,
                "user_id",
                cust.filter(F.col("c_custkey") < 50),
                "c_custkey",
            ),
        ]
    )


def q_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-lang outlier flags (datapipe/stats.mad_outliers):
    Iglewicz-Hoaglin modified z-score over n_chars — two broadcast-back
    median aggregates, corpus never shuffles."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        mad_outliers,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return mad_outliers(docs, "n_chars", group_col="lang")


def q_dataset_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Copy-verification digest (datapipe/stats.dataset_fingerprint):
    lineitem's order-insensitive (n_rows, xor, sum) row-hash triple,
    plus the same triple recombined from two parity shards — shard
    merge (count/sum add, xor xors) must reproduce the direct digest,
    which is what lets a 100 TB copy verify shard-by-shard with no
    sort and no co-location."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        dataset_fingerprint,
    )

    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus",
    ]
    li = _t(spark, sf, "lineitem")
    direct = dataset_fingerprint(li, cols)
    a = dataset_fingerprint(li.filter(F.col("l_orderkey") % 2 == 0), cols)
    b = dataset_fingerprint(li.filter(F.col("l_orderkey") % 2 == 1), cols).select(
        F.col("n_rows").alias("__n2"),
        F.col("xor_hash").alias("__x2"),
        F.col("sum_hash").alias("__s2"),
    )
    merged = a.crossJoin(b).select(
        (F.col("n_rows") + F.col("__n2")).alias("n_rows_m"),
        F.col("xor_hash").bitwiseXOR(F.col("__x2")).alias("xor_hash_m"),
        (F.col("sum_hash") + F.col("__s2"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("sum_hash_m"),
    )
    # sum digests travel as exact decimal STRINGS: DuckDB's HUGEINT
    # round-trips to pandas as lossy float64, so both engines render
    # the integer text instead
    return direct.withColumn(
        "sum_hash", F.col("sum_hash").cast("string")
    ).crossJoin(merged)


def q_join_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance (operators/joins.join_delta): the
    delta of orders ⋈ lineitem under insert-only batches on BOTH
    sides, computed as ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — |Δ|-proportional work.
    The oracle computes the delta the EXPENSIVE way (full new join
    EXCEPT ALL full old join, bag semantics), so the green row proves
    the maintenance identity, not just a mirrored plan."""
    from python_etl_mailing_automation_spark.operators.joins import join_delta

    ords = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("val_a")
    )
    li = _t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_extendedprice").alias("val_b"),
        F.col("l_linenumber").alias("ln"),
    )
    base_a = ords.filter(F.col("k") % 10 < 8)
    delta_a = ords.filter(F.col("k") % 10 >= 8)
    base_b = li.filter(F.col("ln") % 3 != 0)
    delta_b = li.filter(F.col("ln") % 3 == 0)
    return join_delta(base_a, delta_a, base_b, delta_b, on="k")


def q_cdc_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Full MERGE semantics (operators/dedup.cdc_apply): an I/U/D
    changelog (lineitem rows keyed by order — several facts per key,
    shipdate-ordered, linenumber tiebreak, every 4th line a DELETE)
    applied to an orders-derived base snapshot (keys % 3 != 0, so the
    log also INSERTS new keys). Last fact per key wins; a winning 'D'
    removes the key — the delete half upsert_latest doesn't model.
    Window-free max_by reduction, skew-hardened like the SCD-1 merge."""
    from python_etl_mailing_automation_spark.operators.dedup import cdc_apply

    ords = _t(spark, sf, "orders")
    base = ords.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("val"),
        F.col("o_orderstatus").alias("tag"),
    )
    log = _t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_extendedprice").alias("val"),
        F.col("l_returnflag").alias("tag"),
        F.col("l_shipdate").alias("ts"),
        F.when(F.col("l_linenumber") % 4 == 0, "D").otherwise("U").alias("op"),
        F.col("l_linenumber").alias("ln"),
    )
    # tiebreak extends through the payload: the synthetic lineitem has
    # a handful of (order, shipdate, linenumber) duplicates with
    # different payloads, so (ln, val, tag) makes the order total
    return cdc_apply(
        base, log, key="k", ts_col="ts", op_col="op",
        tiebreak=["ln", "val", "tag"],
    )


def q_scd_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-1 snapshot merge (operators/dedup.upsert_latest): an in-query
    CDC batch (every 3rd customer, +100 balance; every 6th arrives with
    a TIED version to exercise update-beats-base) merged into the
    customer base — window-free min_by reduction."""
    from python_etl_mailing_automation_spark.operators.dedup import (
        upsert_latest,
    )

    cust = _t(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    base = cust.withColumn("version", F.lit(1))
    updates = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0))
        .withColumn(
            "version",
            F.when(F.col("c_custkey") % 6 == 0, F.lit(1)).otherwise(F.lit(2)),
        )
    )
    return upsert_latest(
        base, updates, key="c_custkey", version_col="version"
    )


def q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered view→click→purchase funnel (operators/funnel
    .funnel_stages): k nested conditional window minima over ONE user
    partitioning — one shuffle for the whole funnel, no self-joins."""
    from python_etl_mailing_automation_spark.functions.dates import (
        epoch_micros,
    )
    from python_etl_mailing_automation_spark.operators.funnel import (
        funnel_stages,
    )

    events = _t(spark, sf, "events")
    dtype = dict(events.dtypes)["ts"]
    out = funnel_stages(events, ["view", "click", "purchase"])
    # stage columns inherit the input ts dtype; epoch micros keeps the
    # oracle compare timezone-flavor-proof
    cols = [F.col("user_id")] + [
        epoch_micros(f"stage{i}_ts", dtype=dtype).alias(f"stage{i}_us")
        for i in range(3)
    ]
    return out.select(*cols, F.col("stages_reached"))


def q_quantile_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-quantile quality bucketing (datapipe/stats
    .quantile_bucket_assign): per-lang quartile boundaries of n_chars
    broadcast back, scan-level boundary fold — the feeder for
    budget_select's quality tiers."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        quantile_bucket_assign,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return quantile_bucket_assign(
        docs, "n_chars", n_buckets=4, group_col="lang"
    )


def q_temperature_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled source rebalancing (datapipe/sampling
    .temperature_sample, T=4): per-lang keep rate (n_min/n)^(3/4) via
    the sqrt-chain (pow/ln-free), md5-bucket kept set."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        temperature_sample,
    )

    docs = _t(spark, sf, "documents")
    return temperature_sample(docs, "lang", temperature=4.0).select(
        "doc_id", "lang"
    )


def q_attribution_join(spark: SparkSession, sf: str) -> DataFrame:
    """Ad attribution join (operators/asof.attribution_join): click
    credited to same-user views in the preceding 2 h; user-key equi-join
    with the time range as a post-filter."""
    from python_etl_mailing_automation_spark.functions.dates import (
        epoch_micros,
    )
    from python_etl_mailing_automation_spark.operators.asof import (
        attribution_join,
    )

    events = _t(spark, sf, "events")
    dtype = dict(events.dtypes)["ts"]
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    pairs = attribution_join(views, clicks, horizon_s=7200)
    return pairs.select(
        "user_id",
        "view_id",
        "click_id",
        (
            epoch_micros("click_ts", dtype=dtype)
            - epoch_micros("view_ts", dtype=dtype)
        ).alias("gap_us"),
    )


def q_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring duplication coverage (datapipe/dedup
    .dup_span_stats, Lee et al. 2022 re-expressed as window-hash
    algebra): stride-1 8-token windows, md5 occurrence count >= 2 marks
    duplicated text, per-doc distinct-position coverage."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dup_span_stats,
    )

    docs = _t(spark, sf, "documents")
    return dup_span_stats(docs, k=8)


def q_suffix_ranks(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed suffix-array construction by prefix doubling
    (datapipe/suffix.suffix_ranks, Manber-Myers in relational form —
    the exact, rank-producing sibling of dup_spans' window hashing):
    depth-8 dense suffix ranks over the documents corpus, log2(8)=3
    self-join rounds, every global re-rank through the bucketed
    two-level prefix (no single-partition sort anywhere)."""
    from python_etl_mailing_automation_spark.datapipe.suffix import (
        suffix_ranks,
    )

    docs = _t(spark, sf, "documents")
    return suffix_ranks(docs, depth=8)


def q_exact_substr_spans(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr duplicate-run extraction (datapipe/suffix
    .exact_substr_spans, the suffix-array side of Lee et al. 2022):
    positions whose 8-token window duplicates ANY other position —
    decided by suffix-rank equality, collision-free — merged into
    maximal per-document spans via gaps-and-islands."""
    from python_etl_mailing_automation_spark.datapipe.suffix import (
        exact_substr_spans,
    )

    docs = _t(spark, sf, "documents")
    return exact_substr_spans(docs, min_len=8)


def q_spearman_rho(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Spearman rank correlation (datapipe/stats.spearman_rho):
    order value vs order age; doubled midranks are exact integers off
    the bucketed prefix, Pearson-on-ranks via the exact_corr moment
    formula — one division and two sqrts at the end."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        spearman_rho,
    )

    o = _t(spark, sf, "orders")
    feats = o.select(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("age_days"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias(
            "price_cents"
        ),
    )
    return spearman_rho(feats, "age_days", "price_cents")


def q_cross_corpus_substr(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring decontamination at suffix granularity (datapipe/
    suffix.cross_corpus_substr): spans of held-in documents whose
    8-token windows also occur in the src1 pseudo-heldout — rank
    equality over the UNION decides cross-corpus identity, no hash, no
    train-x-test join."""
    from python_etl_mailing_automation_spark.datapipe.suffix import (
        cross_corpus_substr,
    )

    docs = _t(spark, sf, "documents")
    train = docs.filter(F.col("source") != "src1")
    test = docs.filter(F.col("source") == "src1")
    return cross_corpus_substr(train, test, min_len=8)


def q_rrf_fuse(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion (datapipe/text.rrf_fuse, dense-rank
    variant): char-count and token-count signals fused by
    1/(60+rank) + 1/(60+rank), global ranks via the bucketed prefix,
    deterministic top-20."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        rrf_fuse,
        tokens_of,
    )

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("n_chars_s"),
        F.size(tokens_of("text")).cast("double").alias("n_tokens_s"),
    )
    return rrf_fuse(
        docs, ["n_chars_s", "n_tokens_s"], id_col="doc_id", k=60, top=20
    )


def q_theil_sen(spark: SparkSession, sf: str) -> DataFrame:
    """Robust trend: Theil-Sen median pairwise slope (datapipe/stats
    .theil_sen) of order value on order age over a content-addressed
    64-row sample — all-pairs only on the bounded sample, medians by
    sorted-array index, floats only at the slope divisions."""
    from python_etl_mailing_automation_spark.datapipe.stats import theil_sen

    o = _t(spark, sf, "orders")
    feats = o.select(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("age_days"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias(
            "price_cents"
        ),
    )
    return theil_sen(feats, "age_days", "price_cents", n_sample=64)


def q_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson-bootstrap CI for the mean order value (datapipe/stats
    .bootstrap_ci): 64 one-pass replicas, md5-derived Poisson(1)
    weights against fixed integer thresholds (no engine exp() in the
    loop), exact-integer replica means, nearest-rank CI bounds."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        bootstrap_ci,
    )

    o = _t(spark, sf, "orders")
    feats = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias(
            "price_cents"
        ),
    )
    return bootstrap_ci(feats, "o_orderkey", "price_cents", n_boot=64)


def q_ks_two_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test (datapipe/stats
    .ks_two_sample): click vs view event values; integer max-CDF-gap
    numerator via the bucketed prefix, one double division at emit."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        ks_two_sample,
    )

    ev = _t(spark, sf, "events")
    return ks_two_sample(ev, "event_type", "value", "click", "view")


def q_mann_whitney(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Mann-Whitney U with midrank ties (datapipe/stats
    .mann_whitney_u): rank-based click-vs-view drift; the doubled rank
    sum is an exact integer off the same prefix machinery, z-score
    with the standard tie correction in one fixed-order expression."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        mann_whitney_u,
    )

    ev = _t(spark, sf, "events")
    return mann_whitney_u(ev, "event_type", "value", "click", "view")


def q_heavy_hitters_mg(spark: SparkSession, sf: str) -> DataFrame:
    """Misra-Gries frequent-items summary per event type (datapipe/
    sketches.heavy_hitters_mg): capacity-8 counter tables over user
    buckets via the deterministic one-shot mergeable-summaries merge
    (exact (key,item) counts minus the 9th-largest count — Agarwal et
    al. 2012), so parallelism rides the high-cardinality (event_type,
    user_bucket) pair and the result is a pure function of the counts,
    fully oracle-checkable."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        heavy_hitters_mg,
    )

    ev = _t(spark, sf, "events").select(
        "event_type",
        (F.col("user_id") % 97).cast("string").alias("user_bucket"),
    )
    return heavy_hitters_mg(ev, "event_type", "user_bucket", capacity=8)


def q_ols_multi2(spark: SparkSession, sf: str) -> DataFrame:
    """Two-regressor least squares by exact-integer Cramer determinants
    (datapipe/stats.ols_multi2): order value in cents on order age and
    a customer bucket, per priority class — the multivariate member of
    the group_ols family, floats only at the three final divisions."""
    from python_etl_mailing_automation_spark.datapipe.stats import ols_multi2

    o = _t(spark, sf, "orders")
    feats = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("age_days"),
        (F.col("o_custkey") % 1000).cast("long").alias("cust_bucket"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias(
            "price_cents"
        ),
    )
    return ols_multi2(
        feats, "age_days", "cust_bucket", "price_cents", group_col="priority"
    )


def q_chi_square(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence screen (datapipe/stats
    .chi_square_independence): is a document's language independent of
    its source? Exact integer contingency/marginal counts; each cell's
    contribution floored onto the 2^30 grid so the cell SUM is an
    integer sum — partition-invariant by construction."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        chi_square_independence,
    )

    docs = _t(spark, sf, "documents")
    return chi_square_independence(docs, "lang", "source")


def q_anova_f(spark: SparkSession, sf: str) -> DataFrame:
    """One-way ANOVA F (datapipe/stats.anova_f): does mean document
    length differ by source? Between/within sums of squares on the
    exact 2^20 integer grid (decimal floor-division mirrored by
    DuckDB's // on HUGEINT), one double division at the end."""
    from python_etl_mailing_automation_spark.datapipe.stats import anova_f

    docs = _t(spark, sf, "documents")
    return anova_f(docs, "source", "n_chars")


def q_perceptron_train(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-perceptron language-filter training (datapipe/classify
    .perceptron_train): integer features (token count, char count),
    +-1 label on lang=='en', 3 rounds of exact-integer gradient sums —
    bit-identical weights on any engine/partitioning; the fastText-
    style corpus-filter trainer in deterministic form."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        perceptron_train,
    )
    from python_etl_mailing_automation_spark.datapipe.text import tokens_of

    docs = _t(spark, sf, "documents")
    feats = docs.select(
        F.size(tokens_of("text")).cast("long").alias("n_tokens"),
        F.col("n_chars"),
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("label"),
    )
    return perceptron_train(
        feats, ["n_tokens", "n_chars"], "label", n_iter=3
    )


def q_longest_dup_run(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document longest duplicated run (datapipe/suffix
    .longest_dup_run): greedy binary composition over the
    prefix-doubling power tables — the distributed LCP binary search.
    One answer for EVERY length <= 8 from one rank structure; a
    window-hash pipeline would need a pass per candidate length."""
    from python_etl_mailing_automation_spark.datapipe.suffix import (
        longest_dup_run,
    )

    docs = _t(spark, sf, "documents")
    return longest_dup_run(docs, max_len=8)


def q_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style statistical-LM quality signal (datapipe/lm
    .lm_quality_score): bigram model trained on the corpus itself (two
    hash aggs), every doc scored by its average bigram conditional
    probability — ln-free, scaled-integer-exact across engines."""
    from python_etl_mailing_automation_spark.datapipe.lm import (
        lm_quality_score,
    )

    docs = _t(spark, sf, "documents")
    return lm_quality_score(docs)


def q_fuzzy_join_edit1(spark: SparkSession, sf: str) -> DataFrame:
    """SymSpell-style edit-distance-1 record linkage
    (operators/linkage.fuzzy_join_edit): customer names vs an in-query
    corrupted feed (one char deleted at a key-derived position — the
    deterministic stand-in for a dirty mailing list). Deletion-variant
    explode → md5 bucket equi-join → levenshtein verify on candidates
    only; never an all-pairs product."""
    from python_etl_mailing_automation_spark.operators.linkage import (
        fuzzy_join_edit,
    )

    cust = _t(spark, sf, "customer")
    left = cust.select(
        F.col("c_custkey").alias("lid"),
        F.lower(F.col("c_name")).alias("lname"),
    )
    s = F.lower(F.col("c_name"))
    p = (F.col("c_custkey") % F.length(s)) + F.lit(1)
    right = cust.select(
        F.col("c_custkey").alias("rid"),
        F.concat(
            F.substr(s, F.lit(1), p - F.lit(1)),
            F.substr(s, p + F.lit(1), F.length(s)),
        ).alias("rname"),
    )
    return fuzzy_join_edit(
        left,
        right,
        left_id="lid",
        right_id="rid",
        left_col="lname",
        right_col="rname",
        max_dist=1,
    )




def q_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS shortest-hop distance (datapipe/graph.bfs_hops,
    3 rounds) over the co-purchase graph from every node ≡ 0 (mod 97):
    the crawl-frontier radius next to PageRank's authority — per round
    one edge join + one min aggregate, all-integer state, oracle an
    unrolled min-union CTE chain."""
    from python_etl_mailing_automation_spark.datapipe.graph import bfs_hops

    edges = _copurchase_edges(spark, sf)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter(F.col("node") % 97 == 0)
    )
    return bfs_hops(edges, seeds, max_hops=3)


def q_hits_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Kleinberg HITS hubs/authorities (datapipe/graph.hits, 2
    iterations) over the ORIENTED co-purchase graph (a<b direction kept,
    so hub and authority genuinely differ) in exact DECIMAL(38,0)
    integer arithmetic — scores cross the compare boundary as strings
    because HUGEINT/DECIMAL(38,0) survives pandas only as text."""
    from python_etl_mailing_automation_spark.datapipe.graph import hits

    return hits(_copurchase_oriented(spark, sf), n_iter=2)


def q_assoc_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Directed market-basket association rules
    (datapipe/basket.association_rules) over order baskets: exact
    integer supports, rational confidence floor 1/10 applied as a
    cross-multiply, confidence and lift derived in one fixed IEEE
    sequence over exact integers."""
    from python_etl_mailing_automation_spark.datapipe.basket import (
        association_rules,
    )

    li = _t(spark, sf, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_support=2, min_confidence=(1, 10)
    )


def q_dedup_lines_scoped(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-scoped boilerplate removal (datapipe/dedup.dedup_lines
    with scope_col — the CCNet per-domain form): a per-source promo
    line repeats across every doc of its source and vanishes, while a
    globally-common-but-locally-rare line (planted on doc_id ≡ 0 mod 6,
    ~4 docs per source < min_docs=5) SURVIVES — the exact case global
    line dedup gets wrong."""
    from python_etl_mailing_automation_spark.datapipe.dedup import dedup_lines

    docs = _t(spark, sf, "documents")
    lined = docs.select(
        "doc_id",
        "source",
        F.concat_ws(
            "\n",
            F.when(
                F.col("doc_id") % 6 == 0,
                F.lit("subscribe to our newsletter today"),
            ),
            F.concat(F.lit("promo code "), F.col("source")),
            F.concat(
                F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" unique line")
            ),
            F.col("text"),
        ).alias("text"),
    )
    return dedup_lines(lined, min_docs=5, scope_col="source").select(
        "doc_id", "text", "n_lines_kept", "n_lines_removed"
    )


def q_agg_delta_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Retraction-aware incremental aggregate maintenance
    (operators/aggregates.apply_agg_delta): a per-customer order
    count+cents state snapshotted before 1997 absorbs a changelog of
    post-1997 inserts plus deletions of the pre-1997 'F' orders; the
    oracle re-aggregates from scratch, proving delta-fold ≡ rescan.
    Money rides an integer cents grid summed in DECIMAL(38,0)."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        apply_agg_delta,
    )

    od = _t(spark, sf, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0).cast("decimal(38,0)")
    # literal cast to the COLUMN's own timestamp flavor (parquet reads
    # back TIMESTAMP_NTZ here; a TIMESTAMP literal would force a
    # flavor coercion of the whole column)
    pre = F.col("o_orderdate") < F.lit("1997-01-01").cast(
        dict(od.dtypes)["o_orderdate"]
    )
    base = (
        od.filter(pre)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(cents).alias("cents"),
        )
    )
    changelog = (
        od.filter(~pre)
        .select("o_custkey", cents.alias("cents"), F.lit("I").alias("op"))
        .unionByName(
            od.filter(pre & (F.col("o_orderstatus") == "F")).select(
                "o_custkey", cents.alias("cents"), F.lit("D").alias("op")
            )
        )
    )
    out = apply_agg_delta(base, changelog, ["o_custkey"], sum_cols=["cents"])
    return out.select(
        "o_custkey", "n_rows", F.col("cents").cast("long").alias("cents")
    )


def q_twap_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user time-weighted average of the event value stream
    (datapipe/timeseries.time_weighted_mean): integer-microsecond
    holding gaps times a 2^10 value grid summed in DECIMAL(38,0), one
    final double division sequence — the irregular-sampling mean plain
    AVG gets wrong."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        time_weighted_mean,
    )

    # 2^10 grid: keeps every per-user accumulator below 2^63 so the
    # oracle can pass it through BIGINT — DuckDB's HUGEINT→DOUBLE cast
    # is off-by-one-ulp above 2^53 (measured), BIGINT→DOUBLE is exact.
    return time_weighted_mean(
        _t(spark, sf, "events"), "user_id", "ts", "value",
        value_scale_bits=10,
    )


def q_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded 4-core peeling (datapipe/graph.kcore, 3 rounds) over the
    co-purchase graph: iterative degree-filter semi-joins strip the
    tree-like fringe, keeping the dense core with its internal degree —
    deterministic fixed rounds, oracle unrolls the same peeling."""
    from python_etl_mailing_automation_spark.datapipe.graph import kcore

    return kcore(_copurchase_oriented(spark, sf), k=4, max_rounds=3)


def q_sssp_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded Bellman-Ford shortest paths (datapipe/graph.sssp_weighted,
    3 relaxation rounds) over the co-purchase graph with integer edge
    cost 1000 div support (stronger ties are cheaper), seeds = nodes
    ≡ 0 (mod 97) — the weighted companion to bfs_hops; min-plus folds
    stay in exact BIGINT."""
    from python_etl_mailing_automation_spark.datapipe.graph import (
        sssp_weighted,
    )

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pb"))
    und = (
        a.join(b, on=[F.col("ok") == F.col("ok2"), F.col("pa") < F.col("pb")])
        .groupBy(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= 2)
        .select("src", "dst", F.expr("1000 div c").alias("w"))
    )
    edges = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter(F.col("node") % 97 == 0)
    )
    return sssp_weighted(edges, seeds, max_rounds=3)


def q_keyword_search(spark: SparkSession, sf: str) -> DataFrame:
    """Conjunctive keyword retrieval (datapipe/text.keyword_search):
    docs containing ALL of {spark, window, table}, ranked by summed
    term frequency (exact BIGINT), top-20 with id tiebreak — the
    query-evaluation side of the posting_lists index, planned as
    TakeOrdered (no global sort shuffle)."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        keyword_search,
    )

    docs = _t(spark, sf, "documents")
    return keyword_search(docs, ["spark", "window", "table"], k=20)


def q_stratified_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Largest-remainder exact stratified sample
    (datapipe/sampling.stratified_exact, 3/10): per-source quotas are
    integer floors plus remainder-ranked extras so the sample is
    EXACTLY floor(N·3/10) rows — the contractual-split guarantee hash
    thresholds can't give; membership is the md5-smallest ids per
    source, deterministic on any engine."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        stratified_exact,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "source", "lang")
    return stratified_exact(docs, "source", "doc_id", fraction=(3, 10))


def q_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction planning (sources/io.compaction_plan):
    a synthesized per-(source, file) byte manifest is greedily packed
    into ~8 KiB output bins — exact BIGINT prefix sums and integer
    division, per-source windows so packing parallelizes across
    partition scopes (the metadata-sized planner for the small-files
    problem the sized writers prevent on the write side)."""
    from python_etl_mailing_automation_spark.sources.io import (
        compaction_plan,
    )

    docs = _t(spark, sf, "documents")
    manifest = docs.groupBy(
        "source", F.expr("doc_id div 25").alias("file_id")
    ).agg(F.sum(F.length("text")).cast("long").alias("bytes"))
    return compaction_plan(
        manifest,
        file_col="file_id",
        size_col="bytes",
        target_bytes=8192,
        scope_col="source",
    )


def q_interpolate_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user linear gap interpolation
    (datapipe/timeseries.interpolate_linear): every fifth event's value
    is masked NULL and recovered on the straight line between its
    non-NULL neighbors (back/forward fill at the edges) — two
    IGNORE-NULLS window scans on ONE key exchange, interpolation as a
    fixed IEEE sequence over integer-microsecond deltas."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        interpolate_linear,
    )

    ev = _t(spark, sf, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 != 0, F.col("value")).alias("v"),
    )
    return interpolate_linear(ev, "user_id", "ts", "v").select(
        "event_id", "user_id", "value_filled"
    )


def q_skyline_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto frontier (datapipe/frontier.skyline_2d): per brand, the
    parts no other part of the brand beats on BOTH price (lower) and
    size (higher) — the O(n log n) single-window sweep; the oracle runs
    the textbook quadratic NOT EXISTS, so the two independently derive
    the same frontier."""
    from python_etl_mailing_automation_spark.datapipe.frontier import skyline_2d

    return skyline_2d(
        _t(spark, sf, "part"), "p_retailprice", "p_size", key_col="p_brand"
    )


def q_cdf_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Rank/CDF feature scaling (datapipe/stats.cdf_normalize): each
    order's empirical price quantile within its priority class, with the
    exact integer witnesses (rank, group size) and one double division —
    the outlier-immune twin of zscore_normalize."""
    from python_etl_mailing_automation_spark.datapipe.stats import cdf_normalize

    out = cdf_normalize(
        _t(spark, sf, "orders"), "o_totalprice", group_col="o_orderpriority"
    )
    return out.select("o_orderkey", "o_orderpriority", "rnk", "n_group", "cdf")


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix (datapipe/timeseries.cohort_retention):
    users grouped by first-activity week (integer epoch-week, never an
    engine week-truncation convention), per-offset active counts, and
    the exact n_active/n_cohort rational as ONE double division."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        cohort_retention,
    )

    return cohort_retention(_t(spark, sf, "events"), "user_id", "ts")


def q_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram collocation mining (datapipe/text.collocations): top-30
    adjacent word pairs by log-free PMI lift — the exact integer
    rational c_xy·N_tok²/(N_big·c_x·c_y) as one double division, so the
    ranking is bit-identical cross-engine (log is monotone; this IS the
    log-PMI order)."""
    from python_etl_mailing_automation_spark.datapipe.text import collocations

    return collocations(
        _t(spark, sf, "documents"), min_count=3, top_k=30
    )


def q_phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    """Exact phrase retrieval (datapipe/text.phrase_search): documents
    containing the contiguous token run "order fast", match count and
    first 1-based position, via positional posting intersection — the
    oracle rescans each token list per row, a genuinely different
    algorithm for the same contract."""
    from python_etl_mailing_automation_spark.datapipe.text import phrase_search

    return phrase_search(_t(spark, sf, "documents"), "order fast")


def _name_twins(
    spark: SparkSession, sf: str, id_offset: int
) -> tuple[DataFrame, DataFrame]:
    """Customer names ``(id, s)`` and a planted one-edit twin of every
    10th one: append, substitute or delete one trailing char by custkey
    mod 30, so all three edit kinds and both same-length and
    cross-length pairs occur. A twin's id is its customer's plus
    ``id_offset``."""
    basec = (
        _t(spark, sf, "customer")
        .filter(F.col("c_custkey").isNotNull() & F.col("c_name").isNotNull())
        .select(F.col("c_custkey").alias("id"), F.col("c_name").alias("s"))
    )
    twins = basec.filter(F.col("id") % 10 == 0).select(
        (F.col("id") + F.lit(id_offset)).alias("id"),
        F.when(F.col("id") % 30 == 0, F.concat(F.col("s"), F.lit("X")))
        .when(
            F.col("id") % 30 == 10,
            F.concat(
                F.substring(F.col("s"), 1, F.length("s") - 1), F.lit("X")
            ),
        )
        .otherwise(F.substring(F.col("s"), 1, F.length("s") - 1))
        .alias("s"),
    )
    return basec, twins


def _edit1_pairs(a: DataFrame, b: DataFrame) -> DataFrame:
    """``(id_a, id_b, dist)``: every pair of an ``(id, s)`` row of ``a``
    and one of ``b`` within Levenshtein distance 1
    (operators/linkage.fuzzy_join_edit)."""
    from python_etl_mailing_automation_spark.operators.linkage import (
        fuzzy_join_edit,
    )

    return fuzzy_join_edit(
        a.select(F.col("id").alias("id_a"), F.col("s").alias("s_a")),
        b.select(F.col("id").alias("id_b"), F.col("s").alias("s_b")),
        left_id="id_a",
        right_id="id_b",
        left_col="s_a",
        right_col="s_b",
        max_dist=1,
    ).select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))


def _twin_self_pairs(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """The customers plus their twins (:func:`_name_twins`, ids offset by
    10,000,000) and every pair of them within distance 1, ``id_a <
    id_b``: the edit join of the frame with itself."""
    basec, twins = _name_twins(spark, sf, 10_000_000)
    uni = basec.unionByName(twins)
    return uni, _edit1_pairs(uni, uni).filter(F.col("id_a") < F.col("id_b"))


def q_edit_join(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance similarity self-join (operators/linkage
    .fuzzy_join_edit, deletion-neighborhood blocking): all customer-name
    pairs within Levenshtein distance 1, over the customers plus a
    planted one-edit twin per 10th customer (:func:`_name_twins`). The
    oracle is the quadratic cross-join + levenshtein filter; the engine
    never builds it (variant md5 equi-join + verify only)."""
    return _twin_self_pairs(spark, sf)[1]


def q_fd_violations(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency profiling (datapipe/quality.fd_violations):
    does user_id → event_type hold in events? Every violating user with
    row count, distinct event types (a NULL dependent counts as one
    extra distinct marker), and the deterministic min/max example pair
    — two stacked keyed aggregates, state bounded by distinct
    dependents per group."""
    from python_etl_mailing_automation_spark.datapipe.quality import fd_violations

    return fd_violations(_t(spark, sf, "events"), ["user_id"], "event_type")


def q_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity / l-diversity audit (datapipe/quality.k_anonymity):
    quasi-identifiers (nation, market segment) over customers with the
    account-balance sign as the sensitive attribute — class sizes,
    violates-k flags at k=5, and per-class sensitive diversity, one
    shuffle via the (QI, sensitive) pre-aggregate."""
    from python_etl_mailing_automation_spark.datapipe.quality import k_anonymity

    cust = _t(spark, sf, "customer").withColumn(
        "bal_sign", F.when(F.col("c_acctbal") < 0, F.lit("neg")).otherwise(F.lit("pos"))
    )
    return k_anonymity(
        cust, ["c_nationkey", "c_mktsegment"], k=5, sensitive_col="bal_sign"
    )


def q_ewma_events(spark: SparkSession, sf: str) -> DataFrame:
    """Truncated dyadic EWMA (datapipe/timeseries.ewma_dyadic): per-user
    exponentially-weighted rolling mean of event values, window 8,
    weights 2^(7-lag), values on the 2^20 grid — BIGINT sums end to
    end, ONE double division, so the smoothed series crosses engines
    bit-identically. The bounded contribution-explode shape, not a
    per-row array rescan."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import ewma_dyadic

    ev = _t(spark, sf, "events")
    out = ewma_dyadic(
        ev, "user_id", "ts", "value",
        window=8, grid_bits=20, order_cols=["value", "event_id"],
    )
    return out.select("user_id", "event_id", "value", "ewma")


def q_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sided CUSUM drift monitor (datapipe/timeseries
    .cusum_changepoints, Page 1954): per-user sustained-shift statistic
    over event values, target 50 / slack 5 / threshold 200 on the 2^20
    grid. The sequential max(0,·) recurrence is evaluated via its
    exact prefix-sum closed form S_i = P_i - min(0, running_min(P_i))
    — two stacked windows on ONE exchange, no recursion, bit-identical
    across engines."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        cusum_changepoints,
    )

    out = cusum_changepoints(
        _t(spark, sf, "events"),
        "user_id", "ts", "value",
        target=50.0, slack=5.0, threshold=200.0,
        order_cols=["event_id"],
    )
    return out.select(
        "user_id", "event_id", "value", "cusum_hi", "cusum_lo", "alarm"
    )


def q_sorted_neighborhood(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood blocking (datapipe/ssjoin
    .sorted_neighborhood_pairs): per market segment, candidate pairs
    within 3 sort positions of each other by name — ONE exchange, pairs
    from a bounded lead-array explode; the oracle runs the rank
    self-join the engine never builds."""
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        sorted_neighborhood_pairs,
    )

    return sorted_neighborhood_pairs(
        _t(spark, sf, "customer"),
        "c_custkey",
        "c_name",
        window=3,
        block_col="c_mktsegment",
    )


def q_linkage_clusters_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-resolution composition: deletion-neighborhood edit-distance
    pairs (d=1, operators/linkage.fuzzy_join_edit) over customers +
    planted twins → connected-component closure (datapipe/dedup
    .dedup_clusters min-label propagation) → (id, cluster_id) mapping.
    The oracle chains the quadratic levenshtein pair build into the
    house recursive-CTE reachability fixpoint — two
    independently-derived closures of the same match graph."""
    from python_etl_mailing_automation_spark.datapipe.dedup import dedup_clusters

    uni, pairs = _twin_self_pairs(spark, sf)
    return dedup_clusters(
        uni, pairs, id_col="id", id_a="id_a", id_b="id_b", max_iterations=30
    )


def q_band_join(spark: SparkSession, sf: str) -> DataFrame:
    """Numeric-proximity band join (operators/joins.band_join_self):
    per-user event pairs within 600 s of each other — bucket-neighbor
    blocking (3 probe buckets per row) turns the theta-join into an
    equi-join; the oracle runs the quadratic per-user range join the
    engine never plans."""
    from python_etl_mailing_automation_spark.operators.joins import band_join_self

    ev = _t(spark, sf, "events").withColumn(
        "epoch_s", F.col("ts").cast("long")
    )
    return band_join_self(
        ev, "event_id", "epoch_s", delta=600, key_col="user_id"
    )


def q_domain_quality_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-level curation composition (the CCNet/RefinedWeb move:
    score the DOMAIN, not just the page): per-source token and stopword
    totals roll up, a source is blocked when its corpus-wide stopword
    mass exceeds 7% by exact integer cross-multiplication (no float in
    the decision — the synthetic corpus clusters at 6-7.6%, so the gate
    genuinely splits it), and documents survive by broadcast semi-join against
    the good-source frame — one doc-side aggregate, one source-sized
    broadcast, zero quadratic anything."""
    docs = _t(spark, sf, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stop_arr = F.array(*[F.lit(w) for w in ["the", "a", "of", "and", "to"]])
    per_doc = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("long")
        .alias("n_stop"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_src"),
        F.sum("n_tok").cast("long").alias("tok_src"),
        F.sum("n_stop").cast("long").alias("stop_src"),
    )
    good = per_src.filter(
        F.col("stop_src") * F.lit(1000) <= F.col("tok_src") * F.lit(70)
    )
    return per_doc.join(F.broadcast(good), on="source").select(
        "doc_id", "source", "n_tok", "n_docs_src", "tok_src", "stop_src"
    )


def q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix (datapipe/timeseries
    .event_transitions): per-user event sequences → (from, to) step
    counts, from-state totals, and the transition probability as one
    double division over exact counts. One corpus window + one
    state²-sized window — path analysis without a self-join."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        event_transitions,
    )

    return event_transitions(
        _t(spark, sf, "events"), "user_id", "ts", "event_type",
        order_cols=["event_id"],
    )


def q_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-style column profiling (datapipe/stats.table_profile):
    null counts, exact NDVs, and min/max for four orders columns in ONE
    aggregate pass (multi-count-distinct via a single Expand), unpivoted
    by an inline stack — the discovery query every inherited table gets
    first."""
    from python_etl_mailing_automation_spark.datapipe.stats import table_profile

    return table_profile(
        _t(spark, sf, "orders"),
        ["o_orderpriority", "o_orderstatus", "o_custkey", "o_orderdate"],
    )


def q_running_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative distinct count (operators/aggregates.running_distinct):
    per user, how many distinct event types seen so far at each event —
    first-occurrence flag + running sum, two windows on ONE key
    exchange, never a per-row set."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        running_distinct,
    )

    out = running_distinct(
        _t(spark, sf, "events"), "user_id", "ts", "event_type",
        order_tiebreak=["event_id"],
    )
    return out.select("user_id", "event_id", "n_distinct_so_far")


def q_islands(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands (operators/aggregates.islands): each user's
    consecutive-active-day streaks from the events table — lag-flag +
    running island id on one key exchange; the oracle derives the same
    runs via the independent value − dense_rank trick."""
    from python_etl_mailing_automation_spark.operators.aggregates import islands

    days = _t(spark, sf, "events").select(
        "user_id",
        F.expr("datediff(cast(ts as date), date'1970-01-01')").alias("day_idx"),
    )
    return islands(days, "user_id", "day_idx")


def q_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    """LSH recall calibration (the bloom_fpr/cms_error pattern applied
    to the dedup candidate path): ground truth = exact 3-shingle
    Jaccard >= 1/2 pairs (ssjoin.jaccard_join_exact, prefix-filtered,
    integer acceptance); candidates = the MinHash 3×2-band LSH pair
    set (dedup.minhash_signatures → lsh_candidate_pairs). One summary
    row: true-pair count, candidate count, caught count, and recall as
    the single double division — the docstring claim "LSH trades
    recall for candidates" becomes a signed measurement."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        jaccard_join_exact,
    )

    docs = _t(spark, sf, "documents")
    exact = jaccard_join_exact(
        docs, "doc_id", "text", threshold=(1, 2), shingle=3
    ).select("id_a", "id_b")
    cand = lsh_candidate_pairs(minhash_signatures(docs)).select(
        F.col("doc_id_a").alias("id_a"), F.col("doc_id_b").alias("id_b")
    )
    # ONE pass over both pair sets: the full-outer join carries a flag
    # per side, so the LSH pipeline is evaluated once (a left join plus
    # a separate candidate count would run it twice).
    joined = exact.withColumn("__t", F.lit(1)).join(
        cand.withColumn("__c", F.lit(1)), on=["id_a", "id_b"], how="full_outer"
    )
    return joined.agg(
        F.coalesce(F.sum("__t"), F.lit(0)).cast("long").alias("n_true"),
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum(F.col("__t") * F.col("__c")), F.lit(0))
        .cast("long")
        .alias("n_caught"),
    ).select(
        "n_true",
        "n_candidates",
        "n_caught",
        F.when(F.col("n_true") > 0,
               F.col("n_caught").cast("double") / F.col("n_true").cast("double"))
        .otherwise(F.lit(None).cast("double"))
        .alias("recall"),
    )


def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary GROUPING SETS (Spark DataFrame.groupingSets ≡ SQL
    GROUP BY GROUPING SETS): the priority margin, the status margin,
    and the grand total in one Expand pass — the hand-picked-margins
    complement of q_rollup_stats/q_cube_stats (those enumerate
    hierarchical/all subsets; this picks exactly three). Exact decimal
    cent sums; grouping_id disambiguates margin NULLs."""
    orders = _t(spark, sf, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    return (
        orders.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select("o_orderpriority", "o_orderstatus", "gid", "n_orders",
                "total_cents")
    )


def q_lang_consistency(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-language detection (chunk_documents → lang_id → rollup):
    split each document into 32-token chunks (stride 24), language-ID
    every chunk, then per document the chunk count, distinct predicted
    languages, majority language (count ties broken by the
    lexicographically larger language — max(struct) on both engines),
    and the majority share as one double division — the curation
    signal a document-level lang_id misses (a half-English half-German
    page IDs 'en' whole but flags mixed here)."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        chunk_documents,
        lang_id,
    )

    chunks = chunk_documents(_t(spark, sf, "documents"), chunk_tokens=32, overlap=8)
    tagged = lang_id(chunks, "chunk_text")
    per_lang = tagged.groupBy("doc_id", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    out = per_lang.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.max(F.struct(F.col("cnt"), F.col("pred_lang"))).alias("__m"),
    )
    return out.select(
        "doc_id",
        "n_chunks",
        "n_langs",
        F.col("__m.pred_lang").alias("majority_lang"),
        (F.col("__m.cnt").cast("double") / F.col("n_chunks").cast("double"))
        .alias("majority_share"),
        (F.col("n_langs") > 1).cast("int").alias("is_mixed"),
    )


def q_edit_join_two(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus record linkage (operators/linkage.fuzzy_join_edit):
    list A = customer names, list B = the planted one-edit twins
    (append / substitute / delete by custkey mod 30) — every A×B pair
    within distance 1, via the deletion-neighborhood R-S join (no
    within-side work exists). The oracle is the full quadratic A×B
    levenshtein cross join."""
    return _edit1_pairs(*_name_twins(spark, sf, 0))


def q_quantized_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Int8-quantized similarity search (datapipe/similarity
    .quantize_int8 + quantized_topk): top-5 neighbors for the first 40
    vectors under the exact-integer quantized dot product — the 4×
    memory cut of production vector stores with a BIGINT score, so the
    whole result (ranks, ties, scores) is float-free cross-engine."""
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        quantized_topk,
    )

    emb = _t(spark, sf, "embeddings")
    return quantized_topk(emb.filter(F.col("vec_id") < 40), emb, k=5)


def q_negative_samples(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive negative sampling (datapipe/sampling
    .negative_samples): for every embedding, up to 3 different-label
    partners from its md5-ring neighborhood (16 rings, 8 peeks each
    way) — deterministic, RNG-free, cross-join-free; one exchange on
    the ring bucket. The oracle mirrors the ring derivation lead/lag
    for lead/lag."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        negative_samples,
    )

    return negative_samples(
        _t(spark, sf, "embeddings"), "vec_id", "label",
        k=3, lookahead=8, n_buckets=16,
    )


def q_roc_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact tie-aware ROC AUC per event type (datapipe/stats.roc_auc):
    a parity-split label scored by event value — doubled midranks off a
    per-group partitioned window, AUC = 2U/(2·n_pos·n_neg) in one
    division."""
    from python_etl_mailing_automation_spark.datapipe.stats import roc_auc

    ev = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    feats = ev.select(
        "event_type",
        (F.col("event_id") % 2).cast("int").alias("y"),
        F.col("value").alias("s"),
    )
    return roc_auc(feats, "y", "s", group_col="event_type")


def q_acf_lags(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user autocorrelation of whole-dollar event values at lags
    1..3 (datapipe/timeseries.acf_lags): lead() over one key-partitioned
    window, exact DECIMAL(38,0) moments, one division per lag."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        acf_lags,
    )

    ev = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    series = ev.select(
        "user_id",
        "event_id",
        F.floor("value").cast("long").alias("v"),
    )
    return acf_lags(series, "user_id", "event_id", "v", max_lag=3)


def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Rational-idf Okapi BM25 top-20 (datapipe/text.bm25_topk):
    disjunctive retrieval for the same three-term query as
    keyword_search — exact integer ratio per (doc, term), fixed
    written-order per-doc sum, TakeOrdered top-k."""
    from python_etl_mailing_automation_spark.datapipe.text import bm25_topk

    docs = _t(spark, sf, "documents")
    return bm25_topk(docs, ["spark", "window", "table"], k=20)


def q_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    """NDCG@10 of the char-count ranking per source against a
    deterministic 0-3 relevance grade (datapipe/text.ndcg_at_k):
    literal-double discounts, fixed written-order DCG/IDCG sums, one
    final division."""
    from python_etl_mailing_automation_spark.datapipe.text import ndcg_at_k

    docs = _t(spark, sf, "documents").select(
        "source",
        "doc_id",
        F.floor((F.col("doc_id") % 80) / 20).cast("long").alias("rel"),
        F.col("n_chars").alias("sc"),
    )
    return ndcg_at_k(
        docs,
        group_col="source",
        id_col="doc_id",
        rel_col="rel",
        score_col="sc",
        k=10,
    )


def q_confusion_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Per-class precision/recall/F1 of a deterministic surrogate
    classifier over the embedding labels (datapipe/classify
    .confusion_metrics): one cross-tab aggregate, exact counts, single
    divisions."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        confusion_metrics,
    )

    emb = _t(spark, sf, "embeddings").select(
        F.col("label").cast("long").alias("y"),
        (F.col("vec_id") % 10).cast("long").alias("pred"),
    )
    return confusion_metrics(emb, "y", "pred")


def q_wasserstein(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 distance between click and view value
    distributions on the cent grid (datapipe/stats.wasserstein_1d):
    bucketed prefix for the CDFs, bucketed global lead for the segment
    widths, one division."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        wasserstein_1d,
    )

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    return wasserstein_1d(ev, "event_type", "cents", "click", "view")


def q_simpson_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source lexical diversity via the log-free Simpson index
    (datapipe/text.simpson_diversity): exact repeat-probability
    rationals, effective-type count, single divisions."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        simpson_diversity,
    )

    return simpson_diversity(_t(spark, sf, "documents"))


def q_retrieval_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-relevance ranking scorecard per source — first-relevant
    rank / RR, hits@10, precision@10, recall@10 (datapipe/text
    .retrieval_metrics) over the same deterministic grade field as the
    NDCG query (relevant = grade >= 2)."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        retrieval_metrics,
    )

    docs = _t(spark, sf, "documents").select(
        "source",
        "doc_id",
        (F.floor((F.col("doc_id") % 80) / 20) >= 2).cast("int").alias("rel"),
        F.col("n_chars").alias("sc"),
    )
    return retrieval_metrics(
        docs,
        group_col="source",
        id_col="doc_id",
        rel_col="rel",
        score_col="sc",
        k=10,
    )


def q_harmonic_centrality(spark: SparkSession, sf: str) -> DataFrame:
    """Seed-set harmonic centrality over the co-purchase graph
    (datapipe/graph.harmonic_centrality, 3 rounds, seeds ≡ 0 mod 97 —
    the bfs_hops setup): per-seed BFS distances, reciprocals cleared
    through lcm(1..3)=6 so the sum is exact integers, one division."""
    from python_etl_mailing_automation_spark.datapipe.graph import (
        harmonic_centrality,
    )

    edges = _copurchase_edges(spark, sf)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter(F.col("node") % 97 == 0)
    )
    return harmonic_centrality(edges, seeds, max_hops=3)


def q_vocab_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard (datapipe/text.vocab_overlap):
    distinct (source, term) grain, term-keyed self-join bounded by the
    source count, inclusion-exclusion union, one division."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        vocab_overlap,
    )

    return vocab_overlap(_t(spark, sf, "documents"))


def q_target_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Smoothed target encoding of order priority against whole-dollar
    order value (datapipe/classify.target_encode, m=10): exact
    integer-cleared prior, single division per category."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        target_encode,
    )

    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.floor("o_totalprice").cast("long").alias("dollars"),
    )
    return target_encode(o, "o_orderpriority", "dollars", smoothing=10)


def q_welch_t(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's unequal-variance t between click and view whole-dollar
    values (datapipe/stats.welch_t): exact DECIMAL(38,0) moments, one
    fixed written-order float expression for t and the Satterthwaite
    df."""
    from python_etl_mailing_automation_spark.datapipe.stats import welch_t

    ev = _t(spark, sf, "events").select(
        "event_type", F.floor("value").cast("long").alias("dollars")
    )
    return welch_t(ev, "event_type", "dollars", "click", "view")


def q_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Neighborhood link prediction on the co-purchase graph
    (datapipe/graph.link_prediction): distance-2 non-edges scored by
    common neighbors / neighborhood Jaccard / preferential attachment
    — exact integers plus one division, wedge join + anti-join."""
    from python_etl_mailing_automation_spark.datapipe.graph import (
        link_prediction,
    )

    return link_prediction(_copurchase_edges(spark, sf), min_common=2)


def q_diff_in_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences of whole-dollar event values, click
    (treated) vs view (control), H1 vs H2 of the year as pre/post
    (datapipe/stats.diff_in_diff): four exact cells, one fixed-order
    contrast."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        diff_in_diff,
    )

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.when(F.month("ts") <= 6, F.lit("pre"))
        .otherwise(F.lit("post"))
        .alias("period"),
        F.floor("value").cast("long").alias("dollars"),
    )
    return diff_in_diff(
        ev,
        "event_type",
        "period",
        "dollars",
        treat_val="click",
        control_val="view",
        pre_val="pre",
        post_val="post",
    )


def q_encoding_advisor(spark: SparkSession, sf: str) -> DataFrame:
    """Columnar dictionary-encoding advisor over three documents
    columns (datapipe/stats.encoding_advisor): exact byte/NDV facts,
    code bits via binary-string length (never a float log2), one
    ratio division per column."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        encoding_advisor,
    )

    return encoding_advisor(
        _t(spark, sf, "documents"), ["lang", "source", "text"]
    )


def q_quantile_match(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile normalization of click whole-dollar values onto the
    view distribution (datapipe/stats.quantile_match): integer
    nearest-rank index arithmetic, union-merge offer-count lookup, no
    floats anywhere."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        quantile_match,
    )

    ev = _t(spark, sf, "events").select(
        "event_type", F.floor("value").cast("long").alias("dollars")
    )
    return quantile_match(ev, "event_type", "dollars", "click", "view")


def q_token_waterfill(spark: SparkSession, sf: str) -> DataFrame:
    """Budget-constrained uniform source capping (datapipe/curation
    .token_waterfill, budget=25000 tokens): exact integer water level
    over the bounded per-source frame; small sources keep everything,
    large ones are cut to the common cap; leftover reported, never
    silently spread."""
    from python_etl_mailing_automation_spark.datapipe.curation import (
        token_waterfill,
    )
    from python_etl_mailing_automation_spark.datapipe.text import tokens_of

    docs = _t(spark, sf, "documents").select(
        "source", F.size(tokens_of("text")).cast("long").alias("n_tokens")
    )
    return token_waterfill(
        docs, group_col="source", weight_col="n_tokens", budget=25000
    )


def q_multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    """The two row-shape-changing multimodal UDF paths in one entry
    (datapipe/multimodal.sample_frames + decode_and_resize): video
    frame sampling (row-expanding mapInPandas, one row per 64-byte
    frame, max 4) joined with the per-doc thumbnail (fixed-size binary
    out). The deterministic byte-slice stand-ins make BOTH Python batch
    paths oracle-checkable — DuckDB re-slices the same payload in hex
    space (its blob functions lack substring/md5, so hex(encode(text))
    is the comparable form; hex of a byte slice equals the aligned
    slice of the hex)."""
    from python_etl_mailing_automation_spark.datapipe.multimodal import (
        decode_and_resize,
        sample_frames,
    )

    docs = _t(spark, sf, "documents")
    media = with_binary_payload(docs)
    frames = sample_frames(media, every_n_bytes=64, max_frames=4)
    thumbs = decode_and_resize(media, width=64, height=64).select(
        "doc_id", F.lower(F.hex("thumb")).alias("thumb_hex")
    )
    out = frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").cast("long").alias("n_frame_bytes"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )
    return out.join(thumbs, "doc_id")


def q_cohens_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source inter-rater agreement (datapipe/classify.cohens_kappa):
    the language column against a deterministically-perturbed second
    labeler (every 5th doc relabeled 'xx'), exact integer kappa with one
    final division."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        cohens_kappa,
    )

    docs = _t(spark, sf, "documents").select(
        "source",
        F.col("lang").alias("ra"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("xx"))
        .otherwise(F.col("lang"))
        .alias("rb"),
    )
    return cohens_kappa(docs, "ra", "rb", group_col="source")


def q_mcnemar(spark: SparkSession, sf: str) -> DataFrame:
    """Paired-classifier comparison per embedding slice
    (datapipe/classify.mcnemar_test): two deterministic surrogate
    predictors against the gold label, exact discordant counts, one
    division per statistic."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        mcnemar_test,
    )

    emb = _t(spark, sf, "embeddings").select(
        (F.col("vec_id") % 4).cast("long").alias("slice"),
        F.col("label").cast("long").alias("y"),
        (F.col("vec_id") % 10).cast("long").alias("pa"),
        ((F.col("vec_id") * 7 + 3) % 10).cast("long").alias("pb"),
    )
    return mcnemar_test(emb, "y", "pa", "pb", group_col="slice")


def q_brier_score(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type Brier score of an integer-grid surrogate
    probability against the event-id parity label
    (datapipe/classify.brier_score): exact DECIMAL squared-error sum,
    one division."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        brier_score,
    )

    ev = _t(spark, sf, "events").select(
        "event_type",
        (F.col("event_id") % 2).cast("long").alias("y"),
        (F.col("event_id") % 101).cast("long").alias("s"),
    )
    return brier_score(ev, "y", "s", score_den=100, group_col="event_type")


def q_calibration_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type reliability diagram over the same integer-grid
    surrogate as the Brier query (datapipe/classify.calibration_bins):
    integer bin assignment, exact per-bin sums, fixed-order gap."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        calibration_bins,
    )

    ev = _t(spark, sf, "events").select(
        "event_type",
        (F.col("event_id") % 2).cast("long").alias("y"),
        (F.col("event_id") % 101).cast("long").alias("s"),
    )
    return calibration_bins(
        ev, "y", "s", score_den=100, n_bins=10, group_col="event_type"
    )


def q_pass_at_k(spark: SparkSession, sf: str) -> DataFrame:
    """pass@3 per order over lineitem "samples"
    (datapipe/classify.pass_at_k): line-number-derived pass flags, the
    unrolled three-factor estimator; orders carry 1-7 lineitems so the
    n<k and n-c<k contracts are exercised on real data."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        pass_at_k,
    )

    li = _t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("task"),
        (F.col("l_linenumber") % 3 == 0).alias("passed"),
    )
    return pass_at_k(li, "task", "passed", k=3)


def q_conformal_threshold(spark: SparkSession, sf: str) -> DataFrame:
    """Split-conformal calibration threshold per event type at alpha=1/10
    (datapipe/stats.conformal_threshold): integer rank arithmetic over
    the cent-grid scores, order-statistic lookup, zero floats."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        conformal_threshold,
    )

    ev = _t(spark, sf, "events").filter(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("s"),
    )
    return conformal_threshold(
        ev, "s", alpha=(1, 10), group_col="event_type"
    )


def q_rouge_n(spark: SparkSession, sf: str) -> DataFrame:
    """ROUGE-2 per candidate/reference pair (datapipe/text.rouge_n):
    adjacent documents paired (odd doc vs its even predecessor),
    clipped bigram overlap, exact counts, single-division metrics."""
    from python_etl_mailing_automation_spark.datapipe.text import rouge_n

    docs = _t(spark, sf, "documents")
    odd = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.col("text").alias("cand")
    )
    even = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("ref")
    )
    pairs = odd.join(even, "doc_id")
    return rouge_n(pairs, "cand", "ref", id_col="doc_id", n=2)


def q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Memorization audit (datapipe/text.ngram_novelty): every 10th
    document scored for the share of its distinct trigrams absent from
    the rest of the corpus — one gram-keyed LEFT ANTI join."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        ngram_novelty,
    )

    docs = _t(spark, sf, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return ngram_novelty(new, corpus, n=3)


def q_distinct_ngram_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-2 generation-diversity ratio per source
    (datapipe/text.distinct_ngram_ratio): exact occurrence/type counts
    off one two-level aggregate."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        distinct_ngram_ratio,
    )

    return distinct_ngram_ratio(_t(spark, sf, "documents"), n=2)


def q_majority_vote(spark: SparkSession, sf: str) -> DataFrame:
    """Self-consistency reduction (datapipe/classify.majority_vote):
    modal event type per user-bucket "task" with deterministic
    smallest-answer tie-break and exact agreement rate."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        majority_vote,
    )

    ev = _t(spark, sf, "events").select(
        (F.col("user_id") % 997).cast("long").alias("task"),
        F.col("event_type").alias("ans"),
    )
    return majority_vote(ev, "task", "ans")


def q_winrate_wilson(spark: SparkSession, sf: str) -> DataFrame:
    """Preference scoreboard (datapipe/classify.winrate_wilson):
    pairwise win rates over (returnflag, linestatus) "model" pairs with
    Wilson 95% intervals — exact counts, fixed-order float tail, one
    correctly-rounded sqrt."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        winrate_wilson,
    )

    li = _t(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("ma"),
        F.col("l_linestatus").alias("mb"),
        (F.col("l_quantity") > 25).alias("win"),
    )
    return winrate_wilson(li, "ma", "mb", "win")


def q_pr_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-threshold precision-recall table per event type
    (datapipe/stats.pr_curve): cumulative confusion counts over the
    descending distinct-score prefix, single divisions per row."""
    from python_etl_mailing_automation_spark.datapipe.stats import pr_curve

    ev = _t(spark, sf, "events").select(
        "event_type",
        (F.col("event_id") % 2).cast("long").alias("y"),
        (F.col("event_id") % 97).cast("long").alias("s"),
    )
    return pr_curve(ev, "y", "s", group_col="event_type")


def q_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading ease + FK grade per document
    (datapipe/text.readability): exact word/sentence/syllable-heuristic
    counts (array-aggregate, no explode), fixed-order float formulas.
    Pure projection — zero shuffles."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        readability,
    )

    return readability(_t(spark, sf, "documents"))


def q_seasonal_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-day seasonal profile of event values per event type
    (datapipe/timeseries.seasonal_profile): exact DECIMAL cent sums,
    per-phase and overall means as single divisions, fixed-order
    deviation."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        seasonal_profile,
    )

    ev = _t(spark, sf, "events").filter(F.col("value").isNotNull()).select(
        "event_type",
        F.hour("ts").cast("long").alias("phase"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    return seasonal_profile(ev, "phase", "cents", key_col="event_type")


def q_tv_distance(spark: SparkSession, sf: str) -> DataFrame:
    """Exact total-variation drift between click and view dollar-bucket
    distributions (datapipe/stats.tv_distance): cross-multiplied
    integer numerator, one division — the log-free categorical drift
    number."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        tv_distance,
    )

    ev = _t(spark, sf, "events").select(
        "event_type", F.floor("value").cast("long").alias("bucket")
    )
    return tv_distance(ev, "event_type", "bucket", "click", "view")


def q_domain_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-suffix blocklist gating (datapipe/web
    .domain_suffix_filter): synthesized crawl URLs (documents carry no
    url column) expanded to their dot-suffix chains, one broadcast
    equi-join against a three-entry blocklist, longest-match
    attribution."""
    from python_etl_mailing_automation_spark.datapipe.web import (
        domain_suffix_filter,
    )

    docs = _t(spark, sf, "documents")
    scheme = F.when(
        F.col("doc_id") % 4 == 0, F.lit("https://www.")
    ).otherwise(F.lit("https://"))
    tail = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(".ads.example.com"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".example.com"))
        .otherwise(F.lit(".safe.org"))
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            scheme,
            F.lit("ex"),
            (F.col("doc_id") % 20).cast("string"),
            tail,
            F.lit("/p/"),
            (F.col("doc_id") % 50).cast("string"),
        ).alias("url"),
    )
    bl = spark.createDataFrame(
        [("example.com",), ("ads.example.com",), ("evil.net",)],
        "suffix string",
    )
    return domain_suffix_filter(urls, bl)


def q_judge_agreement_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-pipeline composition: three deterministic surrogate
    annotators per item → self-consistency majority
    (datapipe/classify.majority_vote, smallest-answer tie-break) →
    per-slice accuracy of the majority against gold with Wilson bounds
    (datapipe/classify.winrate_wilson) — the
    sample-k-take-majority-then-score loop as one lazy DAG."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        majority_vote,
        winrate_wilson,
    )

    emb = _t(spark, sf, "embeddings").select(
        F.col("vec_id").alias("item"),
        (F.col("vec_id") % 4).cast("long").alias("slice"),
        F.col("label").cast("long").alias("gold"),
    )
    votes = emb.select(
        "item",
        F.explode(
            F.array(
                (F.col("item") % 10).cast("long"),
                ((F.col("item") * 7 + 3) % 10).cast("long"),
                ((F.col("item") * 13 + 1) % 10).cast("long"),
            )
        ).alias("ans"),
    )
    maj = majority_vote(votes, "item", "ans").select(
        "item", F.col("answer").cast("long").alias("pred")
    )
    scored = emb.join(maj, "item").select(
        F.col("slice").cast("string").alias("slice"),
        F.lit("majority@3").alias("system"),
        (F.col("pred") == F.col("gold")).alias("win"),
    )
    return winrate_wilson(scored, "slice", "system", "win").select(
        F.col("model_a").alias("slice"),
        F.col("model_b").alias("system"),
        "n",
        F.col("wins").alias("n_correct"),
        F.col("winrate").alias("accuracy"),
        "wilson_lo",
        "wilson_hi",
    )


def q_krippendorff_alpha(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-rater reliability with MISSING ratings
    (datapipe/classify.krippendorff_alpha): a 3-annotator surrogate
    panel over the documents' language labels — annotator A labels
    everything, B skips every 3rd doc and relabels every 5th 'xx', C
    skips every 4th and relabels every 7th 'yy' — nominal alpha with
    the per-item 1/(n_u-1) weights cleared to one exact integer
    fraction (panel-bounded per-v grouping, PROD(v-1) common
    denominator), a single final double division."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        krippendorff_alpha,
    )

    docs = _t(spark, sf, "documents").filter(F.col("lang").isNotNull())
    a = docs.select(
        F.col("doc_id").alias("item"),
        F.lit("A").alias("rater"),
        F.col("lang").alias("lab"),
    )
    b = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.col("doc_id").alias("item"),
        F.lit("B").alias("rater"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("xx"))
        .otherwise(F.col("lang"))
        .alias("lab"),
    )
    c = docs.filter(F.col("doc_id") % 4 != 0).select(
        F.col("doc_id").alias("item"),
        F.lit("C").alias("rater"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("yy"))
        .otherwise(F.col("lang"))
        .alias("lab"),
    )
    return krippendorff_alpha(
        a.unionByName(b).unionByName(c), "item", "rater", "lab"
    )


def q_label_noise(spark: SparkSession, sf: str) -> DataFrame:
    """Label-noise audit (datapipe/classify.confident_joint): the
    confident-learning joint over customers — given label = market
    segment, model score = account balance (DECIMAL cents) — per-class
    mean thresholds compared by integer cross-multiplication, class
    order an exact pairwise rank; off-diagonal cells are suspected
    mislabels."""
    from python_etl_mailing_automation_spark.datapipe.classify import (
        confident_joint,
    )

    return confident_joint(
        _t(spark, sf, "customer"), "c_mktsegment", "c_acctbal"
    )


def q_leakage_split(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate-safe dataset split (datapipe/sampling.
    leakage_safe_split): near-dup clusters (shared-64-char-prefix
    digest groups with >1 member — the corpus has no byte-exact dup
    texts, so the prefix digest is the non-vacuous surrogate; min-id
    representative) key the 90/5/5 md5 split so no cluster straddles
    train/val/test; reported per split as doc / clustered-doc / cluster
    counts — split-purity is visible in the values (per-split cluster
    counts sum to the global distinct count only when no cluster spans
    two splits)."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        leakage_safe_split,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    dig = docs.select(
        "doc_id", F.md5(F.substring(F.col("text"), 1, 64)).alias("__dg")
    )
    grp = dig.groupBy("__dg").agg(
        F.min("doc_id").alias("cluster_id"),
        F.count(F.lit(1)).alias("__n"),
    )
    clusters = dig.join(grp.filter(F.col("__n") > 1), "__dg").select(
        "doc_id", "cluster_id"
    )
    out = leakage_safe_split(docs.select("doc_id"), clusters)
    return (
        out.join(clusters, "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("cluster_id").cast("long").alias("n_clustered_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        )
    )


def q_seq_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential-pattern support mining (operators/funnel.
    frequent_subsequences): every ordered event-type pattern up to
    length 3 with its user-support (existential subsequence, arbitrary
    gaps) — closed-form via per-(user,type) first/last positions, no
    embedding enumeration; fan-out bounded by the event-type
    alphabet."""
    from python_etl_mailing_automation_spark.operators.funnel import (
        frequent_subsequences,
    )

    return frequent_subsequences(
        _t(spark, sf, "events"),
        key_col="user_id",
        item_col="event_type",
        order_cols=["ts", "event_id"],
        min_support=5,
    )


def q_cluster_provenance(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup provenance audit (datapipe/dedup.provenance_rollup): per
    shared-prefix dup cluster, the member count, id span, and the
    DISTINCT sorted sources that fed it (flat comma string — no ARRAY
    output) plus absorbed chars — the "what got merged into this kept
    document" report."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        provenance_rollup,
    )

    docs = _t(spark, sf, "documents")
    dig = docs.select(
        "doc_id", F.md5(F.substring(F.col("text"), 1, 64)).alias("__dg")
    )
    grp = dig.groupBy("__dg").agg(
        F.min("doc_id").alias("cluster_id"),
        F.count(F.lit(1)).alias("__n"),
    )
    clusters = dig.join(grp.filter(F.col("__n") > 1), "__dg").select(
        "doc_id", "cluster_id"
    )
    return provenance_rollup(docs, clusters)


def q_kfold(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified 5-fold assignment (datapipe/sampling.kfold_assign):
    folds balanced EXACTLY within each language stratum (md5-order rank
    mod k — sizes differ by at most one per stratum, visible in the
    per-(lang, fold) counts)."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        kfold_assign,
    )

    docs = _t(spark, sf, "documents").filter(F.col("doc_id").isNotNull())
    return (
        kfold_assign(docs, 5, stratify_col="lang")
        .groupBy("lang", "fold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def q_rbo_rankings(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-biased overlap between two part rankings per brand
    (datapipe/text.rbo_min): top-10 by retail price vs top-10 by size
    (id tiebreak) — RBO_min with p=0.9, literal depth weights, exact
    integer prefix overlaps, fixed written-order sum."""
    from python_etl_mailing_automation_spark.datapipe.text import rbo_min

    part = _t(spark, sf, "part")
    wa = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    wb = Window.partitionBy("p_brand").orderBy(
        F.col("p_size").desc(), F.col("p_partkey")
    )
    ra = part.select(
        "p_brand", "p_partkey", F.row_number().over(wa).alias("rank")
    )
    rb = part.select(
        "p_brand", "p_partkey", F.row_number().over(wb).alias("rank")
    )
    return rbo_min(ra, rb, group_col="p_brand", id_col="p_partkey")


def q_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable rank-error quantile summary (datapipe/sketches.
    quantile_sketch): order totals in cents per priority class reduced
    to a <=32-row band summary per key — the deterministic one-shot
    construction from the exact value histogram (epsilon = 1/32 rank
    contract; merge law pytest-pinned via quantile_sketch_merge), the
    100 TB-practical companion to the exact corpus_quantiles."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        quantile_sketch,
    )

    o = _t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    return quantile_sketch(o, "cents", key_cols=["priority"], n_bands=32)


def q_quantile_sketch_merged(spark: SparkSession, sf: str) -> DataFrame:
    """The sketch MERGE law as a driver-signed row (datapipe/sketches.
    quantile_sketch_merge): two shard sketches — orders split by
    orderkey parity, each summarized ungrouped via the bucketed-prefix
    path — merged by union/re-accumulate/re-band into one corpus
    summary. Deterministic end to end (both shard sketches and the
    merge are pure functions of the histograms), so DuckDB replays the
    full build-build-merge pipeline and hash-checks it."""
    from python_etl_mailing_automation_spark.datapipe.prefix import (
        range_boundaries,
    )
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        quantile_sketch,
        quantile_sketch_merge,
    )
    from python_etl_mailing_automation_spark.detach import detach

    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # Round 11 (guide §2.1 — share the scan): ONE exact per-(parity,
    # value) histogram feeds both shard sketches; each shard's histogram
    # is the parity slice (filter-then-count ≡ count-then-filter,
    # exactly), and the shared range boundaries come from the
    # histogram's own value set (boundaries steer bucket balance only,
    # never membership). One orders scan instead of ~six; rows, schema
    # and hash unchanged — the sketch is a pure function of the
    # histogram.
    hist = detach(
        o.filter(F.col("cents").isNotNull())
        .groupBy((F.col("o_orderkey") % 2).alias("__par"), "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("__c")),
        eager=False,
    )
    bnd = range_boundaries(hist.select("cents"), "cents")
    a = quantile_sketch(
        o,
        "cents",
        n_bands=32,
        counts=hist.filter(F.col("__par") == 0).select("cents", "__c"),
        boundaries=bnd,
    )
    b = quantile_sketch(
        o,
        "cents",
        n_bands=32,
        counts=hist.filter(F.col("__par") == 1).select("cents", "__c"),
        boundaries=bnd,
    )
    return quantile_sketch_merge(a, b, n_bands=32)


def q_dedup_audit_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup mass-conservation audit, end to end (datapipe/dedup.
    dedup_mass_audit): prefix-digest clusters over documents, the
    provenance rollup recomputed and cross-checked against an
    independent member-level pass — per-source kept/absorbed detail
    plus the __ALL__ row whose `conserved` flag certifies that kept +
    absorbed == input and the rollup accounts for exactly the
    clustered mass (docs AND chars)."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_mass_audit,
    )

    docs = _t(spark, sf, "documents")
    dig = docs.select(
        "doc_id", F.md5(F.substring(F.col("text"), 1, 64)).alias("__dg")
    )
    grp = dig.groupBy("__dg").agg(
        F.min("doc_id").alias("cluster_id"),
        F.count(F.lit(1)).alias("__n"),
    )
    clusters = dig.join(grp.filter(F.col("__n") > 1), "__dg").select(
        "doc_id", "cluster_id"
    )
    return dedup_mass_audit(docs, clusters)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's entire pipeline, end to end, as one lazy
    DAG (processing_pipeline.py:297-360 ≈ pipeline/mailing.py)."""
    return q_mailing_pipeline_e2e(spark, "/root/testdata/sf0.001")


def _signing_state() -> tuple[dict[str, int], set[str]]:
    """(currently signed query → its last driver-green round, stale queries).

    Green rows come from the committed ``CORRECTNESS_r*.json`` artifacts
    in the repo root. A row counts as driver-signed when rows+schema
    matched with no error (hash may be null for the documented rows-only
    checks). A signed query is stale while its last green round is <= its
    ``FINGERPRINTS.json`` round, the round in which
    ``tools/fingerprint.py`` saw its code change: a stale signature must
    not vouch for new code."""
    import glob as _glob
    import json as _json
    import os as _os

    here = _os.path.dirname(_os.path.abspath(__file__))
    last_signed: dict[str, int] = {}
    for path in _glob.glob(_os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = _json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and not row.get("err")
            ):
                last_signed[name] = max(last_signed.get(name, 0), rnd)
    try:
        with open(_os.path.join(here, "FINGERPRINTS.json")) as fh:
            changed = {name: rnd for name, (_, rnd) in _json.load(fh).items()}
    except (OSError, ValueError):
        changed = {}
    stale = {n for n, r in changed.items() if 0 < last_signed.get(n, 0) <= r}
    return {n: r for n, r in last_signed.items() if n not in stale}, stale


def _rotation_order(names: list[str]) -> list[str]:
    """MECHANICAL battery rotation (round-7 fix for the recurring gap):
    the driver's CORRECTNESS gate checks only the first ~50 dict entries
    each round, so ``queries()`` orders the battery by "rounds since the
    last driver-green row" (``_signing_state``). Never-signed queries
    (new this round, or over the window in prior rounds) sort first in
    definition order; among signed queries the stalest row leads. No
    future round needs a hand-rotated dict, and every query is re-signed
    on a bounded cadence (ceil(battery/50) rounds). A query whose code
    changed after its last driver row re-enters the window ahead of the
    signed ones."""
    last_signed, stale = _signing_state()
    def_pos = {n: i for i, n in enumerate(names)}

    # Tiering (round-9): when never-signed + stale-signature together
    # oversubscribe the ~50-row window, a query that has NEVER had a
    # driver-green row must win over one that merely needs re-signing —
    # the union-coverage record only grows from tier 0; tier 1 rows are
    # a staleness refresh that can roll to the next round's window.
    #   tier 0: no green row under this name in any CORRECTNESS file
    #   tier 1: had a green row, but the implementation changed since
    #   tier 2: currently signed — stalest round first (bounded cadence)
    def tier(n: str) -> int:
        if n in last_signed:
            return 2
        return 1 if n in stale else 0

    return sorted(names, key=lambda n: (tier(n), last_signed.get(n, 0), def_pos[n]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Every module-level q_<name> function is the query <name>. Definition
    # order is the tie-break only; the RETURNED order is computed by
    # _rotation_order so the driver's bounded CORRECTNESS window always
    # sees the least-recently-signed queries first.
    base = {n[2:]: f for n, f in globals().items() if n.startswith("q_")}
    return {name: base[name] for name in _rotation_order(list(base))}


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOKS = r"string_split_regex(trim(text), '\s+')"


def _dlit(x: float) -> str:
    """DuckDB DOUBLE literal for a Python float. e-notation forces the
    parser down the correctly-rounded strtod path: a bare decimal
    literal is typed DECIMAL(p,s), and DuckDB's decimal→double cast can
    land 1 ulp off the IEEE value for >15-significant-digit constants
    (measured on 1/log2(6)). Every float constant baked into an oracle
    must go through this helper — `test_oracle_float_literals_use_
    e_notation` enforces it battery-wide."""
    r = repr(float(x))
    return r if ("e" in r or "E" in r) else r + "e0"


def _ndcg_oracle_sql(k: int = 10) -> str:
    """DuckDB twin of q_ndcg: the k discount factors are the SAME
    Python-evaluated doubles the Spark plan embeds as literals
    (shortest-roundtrip repr parses back to the identical IEEE value),
    and both DCG sums are written in the same left-associative order —
    so every float matches bit-for-bit."""
    import math

    disc = [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
    lit = [_dlit(d) for d in disc]
    g_cases = ",\n".join(
        f"             max(CASE WHEN rs = {r + 1} THEN rel END) AS g{r},\n"
        f"             max(CASE WHEN ri = {r + 1} THEN rel END) AS h{r}"
        for r in range(k)
    )
    dcg = " + ".join(
        f"COALESCE(CAST(g{r} AS DOUBLE), 0.0) * {lit[r]}" for r in range(k)
    )
    idcg = " + ".join(
        f"COALESCE(CAST(h{r} AS DOUBLE), 0.0) * {lit[r]}" for r in range(k)
    )
    return f"""
  WITH nd_b AS (SELECT source, doc_id,
                       (doc_id % 80) // 20 AS rel,
                       n_chars AS sc
                FROM documents),
  nd_r AS (SELECT source, rel,
             row_number() OVER (PARTITION BY source
                                ORDER BY sc DESC, doc_id ASC) AS rs,
             row_number() OVER (PARTITION BY source
                                ORDER BY rel DESC, doc_id ASC) AS ri,
             count(*) OVER (PARTITION BY source) AS cnt
           FROM nd_b),
  nd_f AS (SELECT * FROM nd_r WHERE rs <= {k} OR ri <= {k}),
  nd_a AS (SELECT source, CAST(max(cnt) AS BIGINT) AS n_items,
{g_cases}
           FROM nd_f GROUP BY 1),
  nd_d AS (SELECT source, n_items,
                  {dcg} AS dcg,
                  {idcg} AS idcg
           FROM nd_a)
  SELECT source, n_items, dcg, idcg,
         CASE WHEN idcg > 0 THEN dcg / idcg END AS ndcg
  FROM nd_d"""

_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN list_transform(range(len(toks) - 2), "
    "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) "
    "ELSE CAST([] AS VARCHAR[]) END"
)


def _kmeans_sql(
    k: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    src: str = "embeddings",
    prefix: str = "",
) -> str:
    """Unrolled Lloyd-iteration CTEs mirroring datapipe.clustering
    .kmeans_fit_assign: assign = argmin of the sequential-fold squared-L2
    (ties to lower cid), update = DECIMAL(38,20)-exact component means,
    empty clusters keep their previous centroid. ``src`` is the vector
    relation (a table or an already-defined CTE name) so the same fit
    can run over a FILTERED corpus in composed oracles. ``prefix``
    renames every CTE (``e`` -> ``{prefix}e`` etc.) so SEVERAL fits can
    coexist in one WITH (the PQ oracle runs one per subspace); with the
    default empty prefix the emitted SQL is byte-identical to the
    pre-prefix form, so the signed kmeans-family oracles are untouched."""
    p = prefix
    dist = (
        "list_reduce(list_transform(range(len(e.v)), "
        "i -> (e.v[i+1]-c.v[i+1])*(e.v[i+1]-c.v[i+1])), (x,y) -> x+y)"
    )
    # table refs that need an explicit alias once the CTE name is prefixed
    e_as_e = f"{p}e e" if p else "e"
    g_as_g = f"{p}g g" if p else "g"
    parts = [
        f"WITH {p}e AS (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(x AS DOUBLE)) AS v FROM {src}),",
        f"  {p}g AS (SELECT UNNEST(range({dim})) AS i),",
        # Seed = k globally-smallest (md5(id), id) — mirrors
        # clustering._seed_topk (whose hash-threshold pre-prune is a pure
        # optimization with an identical result, so the oracle needs no
        # filter/fallback branch).
        f"  {p}c0 AS (SELECT ROW_NUMBER() OVER "
        "(ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid, v"
        f" FROM (SELECT vec_id, v FROM {p}e "
        f"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})),",
    ]
    for it in range(n_iter + 1):
        parts.append(
            f"  {p}a{it} AS (SELECT vec_id, v, cid, d FROM ("
            f"SELECT e.vec_id, e.v, c.cid, {dist} AS d FROM {e_as_e}, {p}c{it} c) "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),"
        )
        if it == n_iter:
            break
        # Exact fixed-point mean (2^-50 grid): DOUBLE→fractional-DECIMAL
        # casts diverge between engines, integer-valued decimals do not.
        parts.append(
            f"  {p}m{it} AS (SELECT cid, i AS pos, "
            "CAST(SUM(CAST(floor(val * 1125899906842624.0) AS DECIMAL(38,0)))"
            " AS DOUBLE) / 1125899906842624.0 / COUNT(*) AS mu "
            f"FROM (SELECT cid, UNNEST(v) AS val, UNNEST(range(len(v))) AS i "
            f"FROM {p}a{it}) GROUP BY 1, 2),"
        )
        parts.append(
            f"  {p}c{it + 1} AS (SELECT c.cid, "
            "list(COALESCE(m.mu, c.v[g.i+1]) ORDER BY g.i) AS v "
            f"FROM {p}c{it} c CROSS JOIN {g_as_g} "
            f"LEFT JOIN {p}m{it} m ON m.cid = c.cid AND m.pos = g.i "
            "GROUP BY c.cid),"
        )
    body = "\n".join(parts).rstrip(",")
    return (
        f"{body}\n  SELECT vec_id, cid AS cluster_id, d AS dist_sq FROM {p}a{n_iter}"
    )


def _pq_topk_sql(
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    dim: int = 64,
    n_queries: int = 25,
    topk: int = 3,
    grid: float = 1099511627776.0,  # 2^40
) -> str:
    """PQ ADC oracle: one :func:`_kmeans_sql` chain per subspace
    (prefix ``pq{s}``) over the sliced vectors, corpus codes from each
    chain's final assignment, the query×centroid distance table on the
    floor(d·2^40) grid, and the BIGINT ADC sum ranked per query —
    mirrors datapipe/similarity.pq_train/pq_encode/pq_topk exactly."""
    d = dim // m
    dist = (
        "list_reduce(list_transform(range(len(e.v)), "
        "i -> (e.v[i+1]-c.v[i+1])*(e.v[i+1]-c.v[i+1])), (x,y) -> x+y)"
    )
    src_ctes = ",\n  ".join(
        f"pq{s}src AS (SELECT vec_id, embedding[{s * d + 1}:{(s + 1) * d}]"
        " AS embedding FROM embeddings)"
        for s in range(m)
    )
    chains = ",\n  ".join(
        _kmeans_sql(k=k, n_iter=n_iter, dim=d, src=f"pq{s}src", prefix=f"pq{s}")
        .rsplit("\n  SELECT ", 1)[0]
        .removeprefix("WITH ")
        for s in range(m)
    )
    codes = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id AS neighbor_id, {s} AS s, cid FROM pq{s}a{n_iter}"
        for s in range(m)
    )
    tabs = "\n    UNION ALL\n    ".join(
        f"SELECT e.vec_id, {s} AS s, c.cid, "
        f"CAST(floor({dist} * {grid!r}) AS BIGINT) AS dg "
        f"FROM pq{s}e e, pq{s}c{n_iter} c WHERE e.vec_id < {n_queries}"
        for s in range(m)
    )
    return f"""
  WITH {src_ctes},
  {chains},
  pqcodes AS (
    {codes}),
  pqtab AS (
    {tabs}),
  pqadc AS (
    SELECT t.vec_id, cd.neighbor_id, CAST(SUM(t.dg) AS BIGINT) AS adc_grid
    FROM pqtab t JOIN pqcodes cd ON t.s = cd.s AND t.cid = cd.cid
    WHERE t.vec_id <> cd.neighbor_id
    GROUP BY 1, 2)
  SELECT vec_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY adc_grid, neighbor_id) AS BIGINT)
           AS sim_rank,
         adc_grid
  FROM pqadc
  QUALIFY sim_rank <= {topk}"""


def _semantic_dedup_sql(
    k: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    min_cos: float = 0.4,
    src: str = "embeddings",
) -> str:
    """SemDeDup oracle: the k-means CTEs, then within-cluster cosine
    pruning (drop any vector with a >= min_cos neighbor of smaller id)."""
    kmeans = _kmeans_sql(k=k, n_iter=n_iter, dim=dim, src=src)
    body = kmeans.rsplit("\n  SELECT ", 1)[0]
    fold = (
        "list_reduce(list_transform(range(len({a})), "
        "i -> {a}[i+1]*{b}[i+1]), (x,y) -> x+y)"
    )
    norm = "sqrt(" + fold.format(a="v", b="v") + ")"
    dot = fold.format(a="a.v", b="b.v")
    return f"""{body},
  nn AS (SELECT vec_id, cid, v, {norm} AS nrm FROM a{n_iter}),
  dropped AS (SELECT DISTINCT b.vec_id FROM nn b JOIN nn a
              ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE {dot} / (a.nrm * b.nrm) >= {min_cos})
  SELECT n.vec_id, n.cid AS cluster_id FROM nn n
  ANTI JOIN dropped d ON n.vec_id = d.vec_id"""


def _norm_expr(col: str = "text") -> str:
    """DuckDB mirror of datapipe.text.normalize_text's default pipeline
    with the same literal translate() map (DuckDB's translate is
    Postgres-compatible like Spark's). regexp_replace needs the 'g'
    flag in DuckDB."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        _ACCENT_DST,
        _ACCENT_SRC,
    )

    src, dst = _ACCENT_SRC.lower(), _ACCENT_DST.lower()
    return (
        "trim(regexp_replace(regexp_replace("
        f"translate(lower({col}), '{src}', '{dst}'), "
        r"'[^a-zA-Z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"
    )


def _minhash_sig_sql() -> str:
    mh = ",\n         ".join(
        f"list_aggregate(list_transform(shingles, s -> md5(s || '|{j}')), 'min') AS mh_{j}"
        for j in range(1, 7)
    )
    bands = ",\n       ".join(
        f"md5(mh_{2 * b - 1} || '|' || mh_{2 * b}) AS band_{b}" for b in range(1, 4)
    )
    return f"""
  WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM tok),
  sig AS (SELECT doc_id,
         {mh}
  FROM sh)
  SELECT doc_id, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6,
       {bands}
  FROM sig"""


def _simhash_sql() -> str:
    sums = ",\n         ".join(
        f"SUM(CASE WHEN CAST(floor(hx / {float(2 ** k)}) AS INT) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS s{k}"
        for k in range(16)
    )
    pack = " + ".join(
        f"(CASE WHEN s{k} >= 0 THEN {2 ** k} ELSE 0 END)" for k in range(16)
    )
    return f"""
  WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
  h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 4) AS INT) AS hx FROM tok),
  s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
  SELECT doc_id, CAST({pack} AS BIGINT) AS simhash16 FROM s"""


def _clusters_reach_sql() -> str:
    """Recursive-CTE connected components over the LSH pair graph: the
    closed-form fixpoint both engine implementations (min-label
    propagation and large-star/small-star) must reach."""
    return f"""
  WITH RECURSIVE {_minhash_pairs_cte()},
  edges AS (SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
            UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
  reach(node, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.s, reach.r FROM reach JOIN edges e ON e.d = reach.node)
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node"""


def _simhash64_sql() -> str:
    """64-bit SimHash mirroring datapipe/dedup.with_simhash64: two exact
    32-bit md5 halves per token (hi = hex 1-8, lo = hex 9-16), ±1 votes
    per bit via integer shift+mask, bit 63 packed as −2^63 (the
    +9223372036854775808 literal overflows BIGINT in both engines, so
    the sign-bit weight is written as (−max−1))."""
    sums = ",\n         ".join(
        f"SUM(CASE WHEN ({'lo' if k < 32 else 'hi'} >> {k % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS s{k}"
        for k in range(64)
    )
    weights = [f"(CASE WHEN s{k} >= 0 THEN {2 ** k} ELSE 0 END)" for k in range(63)]
    weights.append(
        "(CASE WHEN s63 >= 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    )
    pack = " + ".join(weights)
    return f"""
  WITH tok64 AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
  h64 AS (SELECT doc_id,
          CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS hi,
          CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS lo FROM tok64),
  s64 AS (SELECT doc_id, {sums} FROM h64 GROUP BY doc_id)
  SELECT doc_id, CAST({pack} AS BIGINT) AS simhash64 FROM s64"""


_ENRICH_LIST = (
    "list(CAST(l_suppkey AS VARCHAR) "
    "ORDER BY -l_extendedprice, CAST(l_suppkey AS VARCHAR))"
)

_COS_DOT = (
    "list_reduce(list_transform(range(len({a})), i -> {a}[i+1] * {b}[i+1]), "
    "(x, y) -> x + y)"
)


def _minhash_pairs_cte() -> str:
    """Shared CTE chunk: documents → shingles → 6 salted-md5 minhashes →
    3 LSH bands → distinct candidate ``pairs(doc_id_a, doc_id_b)``.
    Mirrors datapipe.dedup.minhash_signatures + lsh_candidate_pairs."""
    sig = ", ".join(
        f"list_aggregate(list_transform(shingles, s -> md5(s || '|{j}')), 'min') AS mh_{j}"
        for j in range(1, 7)
    )
    bandvals = ", ".join(
        f"md5(mh_{2 * b - 1} || '|' || mh_{2 * b}) AS band_{b}" for b in range(1, 4)
    )
    return f"""tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM tok),
  sig AS (SELECT doc_id, {sig} FROM sh),
  bandvals AS (SELECT doc_id, {bandvals} FROM sig),
  bands AS (
    SELECT doc_id, 0 AS band_idx, band_1 AS band_val FROM bandvals WHERE band_1 IS NOT NULL
    UNION ALL
    SELECT doc_id, 1, band_2 FROM bandvals WHERE band_2 IS NOT NULL
    UNION ALL
    SELECT doc_id, 2, band_3 FROM bandvals WHERE band_3 IS NOT NULL),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id)"""


def _split_thresholds() -> tuple[int, int]:
    """The exact integer thresholds sampling.dataset_split derives for
    the default 90/5/5 weights — replicated with the SAME float
    accumulation so the oracle literal can never drift from the engine."""
    splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = float(sum(splits.values()))
    out, acc = [], 0.0
    for name in list(splits)[:-1]:
        acc += splits[name] / total
        out.append(int(acc * 65536))
    return out[0], out[1]


def _rbo_sum_sql(p: float = 0.9, depth: int = 10) -> str:
    """The RBO_min fixed written-order sum as a SQL fragment over the
    per-pair depth column ``m`` — same left-associated term order and
    the SAME Python-evaluated literal weights as datapipe/text.rbo_min
    (shortest-roundtrip doubles; no engine ever computes a power)."""
    terms = []
    for d in range(1, depth + 1):
        w = (1.0 - p) * p ** (d - 1)
        terms.append(
            "CAST(CAST(SUM(CASE WHEN m <= %d THEN 1 ELSE 0 END) AS BIGINT)"
            " AS DOUBLE) / %s * %s" % (d, _dlit(float(d)), _dlit(w))
        )
    return " + ".join(terms)


def _pagerank_sql(n_iter: int = 3, seed_pred: str | None = None) -> str:
    """Unrolled fixed-iteration PageRank CTEs over the co-purchase
    graph, mirroring datapipe/graph.pagerank: per-edge contributions on
    the 2^-40 grid summed as BIGINT, scalars derived in-engine with the
    same IEEE op order ((1.0-0.85)/N, 1.0/N). The teleport constant uses
    e0 (DOUBLE) literals: DuckDB parses bare `1.0 - 0.85` as exact
    DECIMAL (= 0.15), one ULP off the IEEE double subtraction Spark
    performs (0.15000000000000002). ``seed_pred`` (a boolean SQL
    expression over ``node``) switches to the personalized form:
    teleport mass only to seeds, denominator |S| instead of N."""
    parts = [
        """pgu AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),""",
        "  pge AS (SELECT src, dst FROM pgu"
        " UNION ALL SELECT dst, src FROM pgu),",
        "  pgn0 AS (SELECT DISTINCT node FROM (SELECT src AS node FROM pge"
        " UNION ALL SELECT dst FROM pge)),",
        f"  pgn AS (SELECT node, {seed_pred or 'TRUE'} AS seed FROM pgn0),",
        "  pgd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg"
        " FROM pge GROUP BY 1),",
        "  pgc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n"
        " FROM pgn WHERE seed),",
        "  pr0 AS (SELECT node,"
        " CASE WHEN seed THEN 1.0e0 / CAST(n AS DOUBLE)"
        " ELSE 0.0e0 END AS pr FROM pgn, pgc),",
    ]
    for it in range(n_iter):
        parts.append(
            f"  pc{it} AS (SELECT e.dst,"
            " SUM(CAST(floor(p.pr / CAST(d.deg AS DOUBLE)"
            " * 1099511627776.0) AS BIGINT)) AS s"
            f" FROM pge e JOIN pgd d ON e.src = d.src"
            f" JOIN pr{it} p ON e.src = p.node GROUP BY 1),"
        )
        parts.append(
            f"  pr{it + 1} AS (SELECT n.node,"
            " CASE WHEN n.seed THEN"
            " (1.0e0 - 0.85e0) / CAST(nn.n AS DOUBLE)"
            " ELSE 0.0e0 END"
            " + 0.85 * (CAST(COALESCE(c.s, 0) AS DOUBLE)"
            " / 1099511627776.0) AS pr"
            f" FROM pgn n CROSS JOIN pgc nn"
            f" LEFT JOIN pc{it} c ON n.node = c.dst),"
        )
    body = "\n".join(parts).rstrip(",")
    return f"WITH {body}\n  SELECT node, pr FROM pr{n_iter}"


def _bpe_sql(n_merges: int = 6, src: str = "documents") -> str:
    """Unrolled BPE training oracle: word-frequency table, then per
    round a pair-count aggregate, a deterministic top-1 pick, and the
    greedy merge fold as a RECURSIVE CTE consuming one symbol per step
    (pop-and-push when (acc[-1], next) equals the round's merge) —
    op-for-op the Catalyst `aggregate` fold in tokenizer.bpe_train.
    ``src`` is the training relation (table or parenthesized subquery)
    so the holdout oracle can train on a corpus SPLIT."""
    parts = [
        f"""wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(string_split_regex(text, '\\s+')) AS word
              FROM {src})
        WHERE word <> '' GROUP BY 1),""",
        "  bw0 AS MATERIALIZED (SELECT word, freq,"
        " array_to_string(list_transform(range(1, length(word) + 1),"
        " i -> substr(word, CAST(i AS INT), 1)), ' ') AS seq FROM wf),",
    ]
    for r in range(n_merges):
        parts.append(
            f"  bp{r} AS MATERIALIZED (SELECT s[CAST(i AS INT)] AS lhs,"
            " s[CAST(i AS INT) + 1] AS rhs,"
            " CAST(SUM(freq) AS BIGINT) AS pair_count"
            f" FROM (SELECT freq, string_split(seq, ' ') AS s FROM bw{r}),"
            " UNNEST(range(1, len(s))) AS u(i) GROUP BY 1, 2),"
        )
        parts.append(
            f"  bt{r} AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM bp{r}"
            " ORDER BY pair_count DESC, lhs, rhs LIMIT 1),"
        )
        parts.append(
            f"  bm{r} AS ("
            " SELECT word, freq, string_split(seq, ' ') AS rest,"
            f" CAST([] AS VARCHAR[]) AS acc FROM bw{r}"
            " UNION ALL"
            " SELECT m.word, m.freq, m.rest[2:],"
            " CASE WHEN len(m.acc) > 0 AND m.acc[-1] = t.lhs"
            " AND m.rest[1] = t.rhs"
            " THEN m.acc[:len(m.acc) - 1] || [t.lhs || t.rhs]"
            " ELSE m.acc || [m.rest[1]] END"
            f" FROM bm{r} m, bt{r} t WHERE len(m.rest) > 0),"
        )
        parts.append(
            f"  bw{r + 1} AS MATERIALIZED (SELECT word, freq,"
            f" array_to_string(acc, ' ') AS seq FROM bm{r}"
            " WHERE len(rest) = 0),"
        )
    body = "\n".join(parts).rstrip(",")
    ranks = "\n  UNION ALL ".join(
        f"SELECT CAST({r + 1} AS INT) AS rank, lhs, rhs, pair_count FROM bt{r}"
        for r in range(n_merges)
    )
    return f"WITH RECURSIVE {body}\n  {ranks}"


def _bpe_holdout_sql(n_merges: int = 6) -> str:
    """Train/apply separation oracle: learn the merges on the EVEN
    doc_ids only (reusing _bpe_sql's training CTEs), then fold each
    learned merge in rank order over the distinct words of the ODD
    (held-out) half — the same recursive pop-and-push fold, driven by
    the bt{r} single-row merge CTEs — and fingerprint every held-out
    document's full token stream in word order."""
    train = _bpe_sql(
        n_merges, src="(SELECT text FROM documents WHERE doc_id % 2 = 0)"
    )
    parts = [train.split("\n  SELECT CAST(1 AS INT)")[0] + ","]
    parts.append(
        """  hwf AS (SELECT DISTINCT word
        FROM (SELECT UNNEST(string_split_regex(text, '\\s+')) AS word
              FROM documents WHERE doc_id % 2 = 1)
        WHERE word <> ''),
  hw0 AS MATERIALIZED (SELECT word,
        array_to_string(list_transform(range(1, length(word) + 1),
        i -> substr(word, CAST(i AS INT), 1)), ' ') AS seq FROM hwf),"""
    )
    for r in range(n_merges):
        parts.append(
            f"  hm{r} AS ("
            " SELECT word, string_split(seq, ' ') AS rest,"
            f" CAST([] AS VARCHAR[]) AS acc FROM hw{r}"
            " UNION ALL"
            " SELECT m.word, m.rest[2:],"
            " CASE WHEN len(m.acc) > 0 AND m.acc[-1] = t.lhs"
            " AND m.rest[1] = t.rhs"
            " THEN m.acc[:len(m.acc) - 1] || [t.lhs || t.rhs]"
            " ELSE m.acc || [m.rest[1]] END"
            f" FROM hm{r} m, bt{r} t WHERE len(m.rest) > 0),"
        )
        parts.append(
            f"  hw{r + 1} AS MATERIALIZED (SELECT word,"
            f" array_to_string(acc, ' ') AS seq FROM hm{r}"
            " WHERE len(rest) = 0),"
        )
    parts.append(
        f"""  hdw AS (SELECT t.doc_id, t.ws[CAST(u.i AS INT)] AS w,
               CAST(u.i AS INT) AS wpos
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents WHERE doc_id % 2 = 1) t,
             UNNEST(range(1, len(ws) + 1)) AS u(i)),
  hseg AS (SELECT d.doc_id, d.wpos, b.seq
           FROM hdw d JOIN hw{n_merges} b ON d.w = b.word)
  SELECT doc_id,
         CAST(SUM(len(string_split(seq, ' '))) AS BIGINT) AS n_tokens,
         md5(string_agg(seq, ' ' ORDER BY wpos)) AS doc_fp
  FROM hseg GROUP BY 1"""
    )
    return "\n".join(parts)


def _containment_ctes() -> str:
    """Shared containment-pair CTE text (3-shingles, t = 9/10) feeding
    both the containment_join oracle and the containment_dedup oracle
    — one copy of the prefix/index/verify machinery."""
    return """cj_w AS (SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS ws
                FROM documents),
  cj_t AS (SELECT DISTINCT doc_id,
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]
                  || ' ' || ws[CAST(i AS INT) + 2] AS tok
           FROM cj_w, UNNEST(range(1, len(ws) - 1)) AS u(i)),
  cj_sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
            FROM cj_t GROUP BY 1),
  cj_f AS (SELECT tok, COUNT(*) AS tf FROM cj_t GROUP BY 1),
  cj_r AS (SELECT t.doc_id, t.tok, s.sz,
                  ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                     ORDER BY f.tf ASC, t.tok ASC) AS pos
           FROM cj_t t JOIN cj_f f ON t.tok = f.tok
           JOIN cj_sz s ON t.doc_id = s.doc_id),
  cj_p AS (SELECT doc_id, tok, sz FROM cj_r
           WHERE pos <= sz - ((sz * 9 + 9) // 10) + 1),
  cj_c AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sz AS size_a, bs.sz AS size_b
           FROM cj_p a JOIN cj_t b
             ON a.tok = b.tok AND a.doc_id <> b.doc_id
           JOIN cj_sz bs ON b.doc_id = bs.doc_id),
  cj_i AS (SELECT c.id_a, c.id_b, c.size_a, c.size_b,
                  CAST(COUNT(*) AS BIGINT) AS inter
           FROM cj_c c
           JOIN cj_t x ON x.doc_id = c.id_a
           JOIN cj_t y ON y.doc_id = c.id_b AND y.tok = x.tok
           GROUP BY 1, 2, 3, 4)"""


def _labelprop_sql(n_iter: int = 3) -> str:
    """Unrolled synchronous label propagation over the co-purchase
    graph (graph.label_propagation): per round a neighbor-label count
    and a (count desc, label asc) argmax."""
    parts = [
        """WITH lpu AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
  lpe AS (SELECT DISTINCT src, dst FROM
          (SELECT src, dst FROM lpu
           UNION ALL SELECT dst, src FROM lpu)),
  ll0 AS (SELECT DISTINCT src AS node, src AS label FROM lpe),"""
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f"""  lc{k} AS (SELECT e.src, l.label, COUNT(*) AS c
           FROM lpe e JOIN ll{k - 1} l ON e.dst = l.node GROUP BY 1, 2),
  ll{k} AS (SELECT src AS node, label FROM lc{k}
           QUALIFY ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY c DESC, label ASC) = 1),"""
        )
    body = "\n".join(parts).rstrip(",")
    return f"{body}\n  SELECT node, label FROM ll{n_iter}"


def _containment_fix_sql(rounds: int = 3) -> str:
    """Unrolled coverage-preserving containment dedup (the house
    recursive-CTE idiom): round k computes the oriented containment
    pairs among survivors s{k}, drops only docs whose container is SAFE
    (not itself a contained side that round), and s{k+1} is the
    survivor set. Pair generation reuses the GLOBAL rarest-first prefix
    cj_p — legal because the containing side indexes ALL tokens, so ANY
    (sz - ceil(t·sz) + 1)-subset of the contained side finds every true
    pair; the per-round tf reordering the Spark side performs changes
    candidates, never accepted pairs."""
    parts = [
        "WITH " + _containment_ctes() + ",",
        "  s0 AS (SELECT doc_id FROM documents),",
    ]
    for k in range(rounds):
        parts.append(
            f"""  i{k} AS (SELECT c.id_a, c.id_b, c.size_a, c.size_b,
                  CAST(COUNT(*) AS BIGINT) AS inter
           FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.sz AS size_a, bs.sz AS size_b
                 FROM cj_p a
                 JOIN s{k} pa ON a.doc_id = pa.doc_id
                 JOIN cj_t b ON a.tok = b.tok AND a.doc_id <> b.doc_id
                 JOIN s{k} pb ON b.doc_id = pb.doc_id
                 JOIN cj_sz bs ON b.doc_id = bs.doc_id) c
           JOIN cj_t x ON x.doc_id = c.id_a
           JOIN cj_t y ON y.doc_id = c.id_b AND y.tok = x.tok
           GROUP BY 1, 2, 3, 4),
  o{k} AS (SELECT id_a, id_b FROM i{k}
           WHERE inter * 10 >= 9 * size_a
             AND (size_a < size_b
                  OR (size_a = size_b AND id_a > id_b))),
  d{k} AS (SELECT DISTINCT id_a FROM o{k} o
           WHERE NOT EXISTS (SELECT 1 FROM o{k} q WHERE q.id_a = o.id_b)),
  s{k + 1} AS (SELECT doc_id FROM s{k} s
           WHERE NOT EXISTS (SELECT 1 FROM d{k} d WHERE d.id_a = s.doc_id)),"""
        )
    parts.append(
        f"""  fin AS (SELECT doc_id FROM s{rounds})
  SELECT d.doc_id, d.source
  FROM documents d JOIN fin f ON d.doc_id = f.doc_id"""
    )
    return "\n".join(parts)


def _cov_ctes(prefix: str) -> str:
    """Shared covariance CTE text (value explode + grid-exact upper-
    triangle moments + cov derivation) — ONE implementation feeding
    both the embedding_covariance oracle and the PC1 oracle, so the
    grid constant / op order can never drift between them."""
    g = "1099511627776.0"
    return f"""{prefix}v AS MATERIALIZED (
     SELECT vec_id, u.i - 1 AS i,
            CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) AS x
     FROM embeddings e, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
     WHERE embedding IS NOT NULL),
  {prefix}p AS MATERIALIZED (
     SELECT a.i AS i, b.i AS j, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(floor(a.x * b.x * {g}) AS HUGEINT)) AS s,
            SUM(CAST(floor(a.x * {g}) AS HUGEINT)) AS sa,
            SUM(CAST(floor(b.x * {g}) AS HUGEINT)) AS sb
     FROM {prefix}v a JOIN {prefix}v b
       ON a.vec_id = b.vec_id AND a.i <= b.i
     GROUP BY 1, 2),
  {prefix}t AS MATERIALIZED (
     SELECT i, j, n,
            (CAST(s AS DOUBLE) / {g}) / CAST(n AS DOUBLE)
            - ((CAST(sa AS DOUBLE) / {g}) / CAST(n AS DOUBLE))
              * ((CAST(sb AS DOUBLE) / {g}) / CAST(n AS DOUBLE)) AS cov
     FROM {prefix}p)"""


def _cov_sql() -> str:
    """embedding_covariance oracle: the shared CTEs + triangle select."""
    return (
        f"WITH {_cov_ctes('ec_')}\n"
        "  SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, n, cov"
        " FROM ec_t"
    )


def _pca_sql(n_iter: int = 8) -> str:
    """PC1 power-iteration oracle: the shared grid-exact covariance
    CTEs (mirrored to the full symmetric matrix), ``n_iter`` unrolled
    matrix-vector iterations with 2^-40-grid HUGEINT accumulation and
    sqrt normalization, then the grid-exact projection — op-for-op
    similarity.pca_project_pc1. Every per-iteration CTE is
    MATERIALIZED (the BPE-oracle lesson: plain CTE inlining
    re-evaluates the chain exponentially)."""
    g = "1099511627776.0"
    parts = [
        _cov_ctes("pq_") + ",",
        "  pq_c AS MATERIALIZED (SELECT i, j, cov FROM pq_t"
        " UNION ALL SELECT j AS i, i AS j, cov FROM pq_t WHERE i <> j),",
        "  pq_d AS MATERIALIZED (SELECT DISTINCT i AS j FROM pq_c),",
        "  pq_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM pq_d),",
        "  pv0 AS MATERIALIZED (SELECT j,"
        " 1.0e0 / sqrt(CAST(nd AS DOUBLE)) AS v FROM pq_d, pq_n),",
    ]
    for t in range(n_iter):
        parts.append(
            f"  pw{t} AS MATERIALIZED (SELECT c.i AS j,"
            f" CAST(SUM(CAST(floor(c.cov * p.v * {g}) AS HUGEINT))"
            f" AS DOUBLE) / {g} AS w"
            f" FROM pq_c c JOIN pv{t} p ON c.j = p.j GROUP BY 1),"
        )
        parts.append(
            f"  pn{t} AS MATERIALIZED (SELECT"
            f" sqrt(CAST(SUM(CAST(floor(w * w * {g}) AS HUGEINT))"
            f" AS DOUBLE) / {g}) AS nrm FROM pw{t}),"
        )
        parts.append(
            f"  pv{t + 1} AS MATERIALIZED (SELECT j, w / nrm AS v"
            f" FROM pw{t}, pn{t}),"
        )
    body = "\n".join(parts).rstrip(",")
    return (
        f"WITH {body}\n"
        f"  SELECT x.vec_id,"
        f" CAST(SUM(CAST(floor(x.x * p.v * {g}) AS HUGEINT))"
        f" AS DOUBLE) / {g} AS pc1\n"
        f"  FROM pq_v x JOIN pv{n_iter} p ON x.i = p.j GROUP BY 1"
    )


def _bpe_pack_sql(n_merges: int = 6, seq_len: int = 32) -> str:
    """Tokenize-and-pack oracle: reuse _bpe_sql's training CTEs up to
    the final word table bw{n} (word -> merged symbol sequence), then
    re-tokenize every document by joining its words (with position)
    against that table, lay tokens out in document order via a
    cumulative word-length offset, and chunk at ``seq_len`` with an
    order-pinned fingerprint per chunk."""
    train = _bpe_sql(n_merges)
    body = train.split("\n  SELECT CAST(1 AS INT)")[0]
    return (
        body
        + f""",
  tpw AS (SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '') AS ws
          FROM documents),
  tpd AS (SELECT t.doc_id, CAST(u.i AS INT) AS wpos,
                 t.ws[CAST(u.i AS INT)] AS w
          FROM tpw t, UNNEST(range(1, len(ws) + 1)) AS u(i)),
  tpt AS (SELECT d.doc_id, d.wpos, string_split(b.seq, ' ') AS toks
          FROM tpd d JOIN bw{n_merges} b ON d.w = b.word),
  tpo AS (SELECT doc_id, wpos, toks,
                 COALESCE(SUM(len(toks)) OVER (PARTITION BY doc_id
                   ORDER BY wpos ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS off
          FROM tpt),
  tpk AS (SELECT doc_id,
                 off + u.j - 1 AS pos,
                 toks[CAST(u.j AS INT)] AS tok
          FROM tpo, UNNEST(range(1, len(toks) + 1)) AS u(j))
  SELECT doc_id, CAST(pos // {seq_len} AS INT) AS chunk_idx,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
  FROM tpk GROUP BY 1, 2"""
    )


def _cross_decon_sql() -> str:
    """Cross-corpus LSH decontamination oracle: per-side shingle → 6
    salted-md5 minhashes → 3 bands, band join restricted to
    train×benchmark, exact distinct-token Jaccard ≥ 0.5. Mirrors
    datapipe/contamination.cross_corpus_overlap with the
    q_cross_decontamination planted texts."""
    sig = ", ".join(
        f"list_aggregate(list_transform(shingles, s -> md5(s || '|{j}')), 'min') AS mh_{j}"
        for j in range(1, 7)
    )
    bandvals = ", ".join(
        f"md5(mh_{2 * b - 1} || '|' || mh_{2 * b}) AS band_{b}" for b in range(1, 4)
    )

    def side(prefix: str, src: str) -> str:
        return f"""{prefix}tok AS (SELECT doc_id, {_TOKS} AS toks FROM {src}),
  {prefix}sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM {prefix}tok),
  {prefix}sig AS (SELECT doc_id, {sig} FROM {prefix}sh),
  {prefix}bv AS (SELECT doc_id, {bandvals} FROM {prefix}sig),
  {prefix}band AS (
    SELECT doc_id, 0 AS band_idx, band_1 AS band_val FROM {prefix}bv WHERE band_1 IS NOT NULL
    UNION ALL SELECT doc_id, 1, band_2 FROM {prefix}bv WHERE band_2 IS NOT NULL
    UNION ALL SELECT doc_id, 2, band_3 FROM {prefix}bv WHERE band_3 IS NOT NULL)"""

    return f"""
  WITH cdtr AS (SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN '{_CC_TRAIN}' ELSE text END AS text
         FROM documents WHERE doc_id % 10 >= 3),
  cdbe AS (SELECT doc_id,
           CASE WHEN doc_id % 9 = 0 THEN '{_CC_SHARED}' ELSE text END AS text
         FROM documents WHERE doc_id % 10 < 3),
  {side("cdt", "cdtr")},
  {side("cdb", "cdbe")},
  cdpairs AS (SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS bench_id
              FROM cdtband t JOIN cdbband e
                ON t.band_idx = e.band_idx AND t.band_val = e.band_val),
  cdts AS (SELECT doc_id, list_distinct(toks) AS elems FROM cdttok),
  cdbs AS (SELECT doc_id, list_distinct(toks) AS elems FROM cdbtok),
  cdj AS (SELECT p.train_id, p.bench_id,
                 len(list_filter(a.elems, x -> list_contains(b.elems, x))) AS inter,
                 len(a.elems) + len(b.elems)
                   - len(list_filter(a.elems, x -> list_contains(b.elems, x))) AS un
          FROM cdpairs p
          JOIN cdts a ON p.train_id = a.doc_id
          JOIN cdbs b ON p.bench_id = b.doc_id)
  SELECT train_id, bench_id,
         CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) AS jaccard
  FROM cdj WHERE CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) >= 0.5"""


def _cosine_sql(extra_cols: str, join_cond: str, k: int, out_cols: str) -> str:
    dot_qc = _COS_DOT.format(a="q.v", b="c.v")
    return f"""
  WITH e AS (SELECT vec_id,
                    -- float→double is exact; the dot is a sequential fold
                    -- in both engines, so doubles are bit-identical.
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                    embedding FROM embeddings),
  n AS (SELECT vec_id, embedding, v,
               sqrt({_COS_DOT.format(a="v", b="v")}) AS nrm{extra_cols} FROM e),
  p AS (SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
               {dot_qc} / (q.nrm * c.nrm) AS cos{', q.bucket AS bucket' if 'bucket' in out_cols else ''}
        FROM n q JOIN n c ON {join_cond})
  SELECT {out_cols}
  FROM p QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) <= {k}"""


def _srp_bucket_sql(bits: int, vec: str = "embedding") -> str:
    """DuckDB mirror of ``datapipe.similarity.sign_bucket``: the SAME
    seeded 6-decimal hyperplane literals, same slice-to-length dot
    (sequential fold — bit-identical to Spark's ``F.aggregate``)."""
    from python_etl_mailing_automation_spark.datapipe.similarity import srp_planes

    terms = []
    for i, plane in enumerate(srp_planes(bits)):
        lits = "[" + ", ".join(repr(v) for v in plane) + "]"
        dot = (
            f"list_reduce(list_transform(range(len({vec})), "
            f"i -> CAST({vec}[i+1] AS DOUBLE) * ({lits})[i+1]), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {2 ** i} ELSE 0 END)")
    return " + ".join(terms)


_BUCKET_SQL = _srp_bucket_sql(4)

_BUCKET8_SQL = _srp_bucket_sql(8)


def _near_dup_sql() -> str:
    dot = _COS_DOT.format(a="q.v", b="c.v")
    return f"""
  WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                    embedding FROM embeddings),
  n AS (SELECT vec_id, v,
               sqrt({_COS_DOT.format(a="v", b="v")}) AS nrm,
               {_BUCKET8_SQL} AS bucket FROM e),
  p AS (SELECT q.vec_id AS vec_id_a, c.vec_id AS vec_id_b,
               {dot} / (q.nrm * c.nrm) AS cos_sim
        FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id < c.vec_id)
  SELECT vec_id_a, vec_id_b, cos_sim FROM p WHERE cos_sim >= 0.2"""


def _priority_case_sql() -> str:
    branches = []
    for i in reversed(range(len(PRIORITY_ORDER))):
        status = PRIORITY_ORDER[i].upper().replace("'", "''")
        conds = " OR ".join(
            f"upper(trim({c})) = '{status}'" for c in PRIORITY_COLS
        )
        branches.append(f"WHEN {conds} THEN {i}")
    return (
        "CASE " + " ".join(branches) + f" ELSE {len(PRIORITY_ORDER)} END"
    )


_CLEAN_PHONE = (
    "NULLIF(regexp_replace(regexp_replace({src}, '\\.0$', ''), "
    "'[^0-9]', '', 'g'), '')"
)


def _kcore_sql(k: int = 4, max_rounds: int = 3) -> str:
    """Unrolled k-core peeling rounds over the co-purchase graph:
    per round a degree aggregate and an IN-filtered edge relation,
    mirroring graph.kcore's semi-join prune."""
    parts = [
        """kcu AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),""",
        "  kce0 AS (SELECT src, dst FROM kcu"
        " UNION ALL SELECT dst, src FROM kcu),",
    ]
    for it in range(max_rounds):
        parts.append(
            f"  kck{it} AS (SELECT src FROM kce{it}"
            f" GROUP BY 1 HAVING COUNT(*) >= {k}),"
        )
        parts.append(
            f"  kce{it + 1} AS (SELECT src, dst FROM kce{it}"
            f" WHERE src IN (SELECT src FROM kck{it})"
            f" AND dst IN (SELECT src FROM kck{it})),"
        )
    body = "\n".join(parts).rstrip(",")
    return (
        f"WITH {body}\n  SELECT src AS node,"
        f" CAST(COUNT(*) AS BIGINT) AS degree"
        f" FROM kce{max_rounds} GROUP BY 1"
    )


def _sssp_sql(max_rounds: int = 3) -> str:
    """Unrolled min-plus relaxation rounds with integer edge cost
    1000 // support over the co-purchase graph."""
    parts = [
        """ssu AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
               1000 // CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2),""",
        "  sse AS (SELECT src, dst, w FROM ssu"
        " UNION ALL SELECT dst, src, w FROM ssu),",
        "  ssd0 AS (SELECT DISTINCT src AS node,"
        " CAST(0 AS BIGINT) AS dist FROM sse WHERE src % 97 = 0),",
    ]
    for it in range(max_rounds):
        parts.append(
            f"  ssr{it} AS (SELECT e.dst AS node, d.dist + e.w AS dist"
            f" FROM sse e JOIN ssd{it} d ON e.src = d.node),"
        )
        parts.append(
            f"  ssd{it + 1} AS (SELECT node, MIN(dist) AS dist FROM"
            f" (SELECT node, dist FROM ssd{it}"
            f" UNION ALL SELECT node, dist FROM ssr{it}) GROUP BY 1),"
        )
    body = "\n".join(parts).rstrip(",")
    return f"WITH {body}\n  SELECT node, dist FROM ssd{max_rounds}"


def _bfs_sql(max_hops: int = 3) -> str:
    """Unrolled min-union BFS CTE chain over the co-purchase graph,
    seeds = nodes ≡ 0 (mod 97)."""
    parts = [
        """bfu AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),""",
        "  bfe AS (SELECT src, dst FROM bfu"
        " UNION ALL SELECT dst, src FROM bfu),",
        "  bfd0 AS (SELECT DISTINCT src AS node, 0 AS hop FROM bfe"
        " WHERE src % 97 = 0),",
    ]
    for it in range(max_hops):
        parts.append(
            f"  bfr{it} AS (SELECT e.dst AS node, d.hop + 1 AS hop"
            f" FROM bfe e JOIN bfd{it} d ON e.src = d.node),"
        )
        parts.append(
            f"  bfd{it + 1} AS (SELECT node, MIN(hop) AS hop FROM"
            f" (SELECT node, hop FROM bfd{it}"
            f" UNION ALL SELECT node, hop FROM bfr{it}) GROUP BY 1),"
        )
    body = "\n".join(parts).rstrip(",")
    return (
        f"WITH {body}\n  SELECT node, CAST(hop AS INT) AS hop"
        f" FROM bfd{max_hops}"
    )


def _harmonic_sql(max_hops: int = 3, lcm: int = 6) -> str:
    """Unrolled per-seed min-union BFS over the co-purchase graph
    (seeds ≡ 0 mod 97), reciprocals cleared through lcm(1..max_hops)
    so the harmonic sum is exact integer division (graph
    .harmonic_centrality)."""
    parts = [
        """hcu AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),""",
        "  hce AS (SELECT src, dst FROM hcu"
        " UNION ALL SELECT dst, src FROM hcu),",
        "  hcd0 AS (SELECT DISTINCT src AS seed, src AS node, 0 AS hop"
        " FROM hce WHERE src % 97 = 0),",
    ]
    for it in range(max_hops):
        parts.append(
            f"  hcr{it} AS (SELECT d.seed, e.dst AS node, d.hop + 1 AS hop"
            f" FROM hce e JOIN hcd{it} d ON e.src = d.node),"
        )
        parts.append(
            f"  hcd{it + 1} AS (SELECT seed, node, MIN(hop) AS hop FROM"
            f" (SELECT seed, node, hop FROM hcd{it}"
            f" UNION ALL SELECT seed, node, hop FROM hcr{it})"
            f" GROUP BY 1, 2),"
        )
    body = "\n".join(parts).rstrip(",")
    return f"""WITH {body}
  SELECT node, CAST(count(*) AS BIGINT) AS n_sources,
         CAST(sum({lcm} // hop) AS BIGINT) AS h_num,
         CAST(sum({lcm} // hop) AS DOUBLE) / CAST({lcm} AS DOUBLE)
           AS harmonic
  FROM hcd{max_hops} WHERE hop >= 1 GROUP BY node"""


def _encoding_advisor_sql(cols: list[str], table: str = "documents") -> str:
    """Per-column dictionary-sizing blocks mirroring
    stats.encoding_advisor: exact byte counts, code bits via binary
    string length (length(bin(...)) — identical semantics in both
    engines), integer est_dict_bytes."""
    blocks = []
    for c in cols:
        blocks.append(f"""
  SELECT '{c}' AS "column", t.n, t.n_nulls, s.ndv, s.rb AS raw_bytes,
         s.dvb AS dict_value_bytes,
         CAST(length(bin(greatest(s.ndv - 1, 1))) AS BIGINT)
           AS code_bits,
         s.dvb + (s.nvals * length(bin(greatest(s.ndv - 1, 1))) + 7)
           // 8 AS est_dict_bytes,
         CASE WHEN s.rb > 0 THEN
           CAST(s.dvb + (s.nvals
                         * length(bin(greatest(s.ndv - 1, 1))) + 7)
                // 8 AS DOUBLE) / CAST(s.rb AS DOUBLE)
         END AS dict_ratio,
         CASE WHEN s.rb > 0 THEN
           CAST(s.dvb + (s.nvals
                         * length(bin(greatest(s.ndv - 1, 1))) + 7)
                // 8 < s.rb AS INT)
         END AS recommend_dict
  FROM (SELECT CAST(count(*) AS BIGINT) AS ndv,
               CAST(COALESCE(sum(strlen(v)), 0) AS BIGINT) AS dvb,
               CAST(COALESCE(sum(strlen(v) * cnt), 0) AS BIGINT)
                 AS rb,
               CAST(COALESCE(sum(cnt), 0) AS BIGINT) AS nvals
        FROM (SELECT CAST({c} AS VARCHAR) AS v,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM {table} WHERE {c} IS NOT NULL GROUP BY 1)) s
  CROSS JOIN
       (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(COALESCE(sum(CAST({c} IS NULL AS BIGINT)), 0)
                    AS BIGINT) AS n_nulls
        FROM {table}) t""")
    return "\n  UNION ALL\n".join(blocks)


def _hits_sql(n_iter: int = 2) -> str:
    """Unrolled exact-integer HITS over the oriented co-purchase graph;
    HUGEINT sums rendered as VARCHAR at the boundary."""
    parts = [
        """htu AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),""",
        "  htn AS (SELECT DISTINCT node FROM (SELECT src AS node FROM htu"
        " UNION ALL SELECT dst FROM htu)),",
        "  hth0 AS (SELECT node, CAST(1 AS HUGEINT) AS h FROM htn),",
    ]
    for it in range(n_iter):
        parts.append(
            f"  htas{it} AS (SELECT e.dst, SUM(h.h) AS a FROM htu e"
            f" JOIN hth{it} h ON e.src = h.node GROUP BY 1),"
        )
        parts.append(
            f"  hta{it + 1} AS (SELECT n.node,"
            f" COALESCE(s.a, CAST(0 AS HUGEINT)) AS a FROM htn n"
            f" LEFT JOIN htas{it} s ON n.node = s.dst),"
        )
        parts.append(
            f"  hths{it} AS (SELECT e.src, SUM(a.a) AS h FROM htu e"
            f" JOIN hta{it + 1} a ON e.dst = a.node GROUP BY 1),"
        )
        parts.append(
            f"  hth{it + 1} AS (SELECT n.node,"
            f" COALESCE(s.h, CAST(0 AS HUGEINT)) AS h FROM htn n"
            f" LEFT JOIN hths{it} s ON n.node = s.src),"
        )
    body = "\n".join(parts).rstrip(",")
    return (
        f"WITH {body}\n  SELECT a.node, CAST(a.a AS VARCHAR) AS authority,"
        f" CAST(h.h AS VARCHAR) AS hub"
        f" FROM hta{n_iter} a JOIN hth{n_iter} h ON a.node = h.node"
    )



def _benford_sql() -> str:
    """Benford oracle sharing the operator's Python-computed expected
    double literals and its fixed-order chi-square expression."""
    import math

    exp = {d: float(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}
    sums = ",\n         ".join(
        f"CAST(sum(CASE WHEN digit = {d} THEN 1 ELSE 0 END) AS BIGINT) AS n{d}"
        for d in range(1, 10)
    )
    terms = " + ".join(
        f"((CAST(n{d} AS DOUBLE) - ({_dlit(exp[d])} * CAST(n_total AS DOUBLE))) * "
        f"(CAST(n{d} AS DOUBLE) - ({_dlit(exp[d])} * CAST(n_total AS DOUBLE))) / "
        f"({_dlit(exp[d])} * CAST(n_total AS DOUBLE)))"
        for d in range(1, 10)
    )
    n_case = " ".join(f"WHEN {d} THEN n{d}" for d in range(1, 10))
    e_case = " ".join(f"WHEN {d} THEN {_dlit(exp[d])}" for d in range(1, 10))
    return f"""
  WITH bf AS (
    SELECT o_orderpriority AS grp,
           CASE WHEN o_totalprice IS NOT NULL AND o_totalprice > 0 THEN
             CAST(substring(regexp_replace(regexp_replace(
               CAST(CAST(o_totalprice AS DECIMAL(38,6)) AS VARCHAR),
               '[.\\-]', '', 'g'), '^0+', ''), 1, 1) AS INT)
           END AS digit
    FROM orders),
  bg AS (
    SELECT grp, CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(digit) AS BIGINT) AS n_total,
           {sums}
    FROM bf GROUP BY grp),
  bw AS (
    SELECT *, n_all - n_total AS n_excluded,
           CASE WHEN n_total > 0 THEN {terms} END AS chi2
    FROM bg)
  SELECT grp AS o_orderpriority, d.digit,
         CAST(CASE d.digit {n_case} END AS BIGINT) AS n,
         CASE WHEN n_total > 0 THEN
           CAST(CASE d.digit {n_case} END AS DOUBLE)
             / CAST(n_total AS DOUBLE) END AS freq,
         CASE d.digit {e_case} END AS expected,
         chi2, n_total, n_excluded
  FROM bw, (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS d(digit)"""




def _mmr_sql(k: int = 10, qid: int = 7, n_cand: int = 64) -> str:
    """Unrolled MMR replay: relevance against the qid vector, top-n_cand
    prune, then k rounds of max-over-selected pair cosines + the
    0.5·rel − 0.5·maxsim argmax with smallest-id tie-break. lam = mu =
    0.5 (exact in binary, so no literal-rounding mismatch)."""
    dot_cv = _COS_DOT.format(a="c.v", b="s.v")
    ctes = ["""mm_e AS MATERIALIZED (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
  mm_q AS MATERIALIZED (SELECT v, sqrt({vv}) AS nrm FROM mm_e
          WHERE vec_id = {qid}),
  mm_c0 AS MATERIALIZED (SELECT c.vec_id AS id, c.v, sqrt({cc}) AS nrm,
                   {qc} / (sqrt({cc}) * q.nrm) AS rel
            FROM mm_e c, mm_q q WHERE c.vec_id != {qid}
            ORDER BY rel DESC, id LIMIT {n}),
  mm_w1 AS (SELECT 1 AS rank, id, v, nrm, rel,
                   CAST(0.0 AS DOUBLE) AS maxsim,
                   0.5 * rel - 0.5 * CAST(0.0 AS DOUBLE) AS score
            FROM mm_c0 ORDER BY score DESC, id LIMIT 1),
  mm_sel1 AS MATERIALIZED (SELECT id, v, nrm FROM mm_w1)""".format(
        vv=_COS_DOT.format(a="v", b="v"),
        cc=_COS_DOT.format(a="c.v", b="c.v"),
        qc=_COS_DOT.format(a="c.v", b="q.v"),
        qid=qid, n=n_cand,
    )]
    for r in range(2, k + 1):
        ctes.append(
            """mm_m{r} AS (
    SELECT c.id, MAX({dot} / (c.nrm * s.nrm)) AS maxsim
    FROM mm_c0 c, mm_sel{p} s
    WHERE c.id NOT IN (SELECT id FROM mm_sel{p})
    GROUP BY c.id),
  mm_w{r} AS (
    SELECT {r} AS rank, c.id, c.v, c.nrm, c.rel, m.maxsim,
           0.5 * c.rel - 0.5 * m.maxsim AS score
    FROM mm_c0 c JOIN mm_m{r} m ON m.id = c.id
    ORDER BY score DESC, c.id LIMIT 1),
  mm_sel{r} AS MATERIALIZED (SELECT id, v, nrm FROM mm_sel{p}
                UNION ALL SELECT id, v, nrm FROM mm_w{r})""".format(
                r=r, p=r - 1, dot=dot_cv
            )
        )
    unions = "\n    UNION ALL ".join(
        "SELECT rank, id, rel, maxsim, score FROM mm_w{r}".format(r=r)
        for r in range(1, k + 1)
    )
    return (
        "WITH " + ",\n  ".join(ctes)
        + "\n  SELECT CAST(rank AS BIGINT) AS rank, id, rel, maxsim, score"
        + " FROM ({u})".format(u=unions)
    )



def _set_cover_sql(k: int = 8) -> str:
    """Unrolled replay of greedy_set_cover over documents' 3-shingles:
    per round a gains aggregate minus the covered set, an
    (g DESC, d ASC) LIMIT 1 winner — identical to the engine's
    struct-max tie-break — and a covered-set union; zero-gain rounds
    are filtered at the end exactly like the engine's early stop."""
    ctes = [
        "sc_tok AS (SELECT doc_id, {toks} AS toks FROM documents "
        "WHERE doc_id IS NOT NULL AND text IS NOT NULL)".format(toks=_TOKS),
        "sc_p AS (SELECT DISTINCT doc_id AS d, u.f FROM "
        "(SELECT doc_id, {sh} AS sh FROM sc_tok), unnest(sh) AS u(f))".format(
            sh=_SHINGLES
        ),
    ]
    for r in range(1, k + 1):
        not_cov = (
            "WHERE f NOT IN (SELECT f FROM sc_c{prev})".format(prev=r - 1)
            if r > 1
            else ""
        )
        ctes.append(
            "sc_g{r} AS (SELECT d, CAST(count(*) AS BIGINT) AS g "
            "FROM sc_p {nc} GROUP BY d)".format(r=r, nc=not_cov)
        )
        ctes.append(
            "sc_w{r} AS (SELECT d, g FROM sc_g{r} "
            "ORDER BY g DESC, d ASC LIMIT 1)".format(r=r)
        )
        cov_prev = (
            "SELECT f FROM sc_c{prev} UNION ".format(prev=r - 1)
            if r > 1
            else ""
        )
        ctes.append(
            "sc_c{r} AS ({cp}SELECT p.f FROM sc_p p "
            "JOIN sc_w{r} w ON p.d = w.d)".format(r=r, cp=cov_prev)
        )
    unions = "\n    UNION ALL ".join(
        "SELECT CAST({r} AS BIGINT) AS rnd, d, g FROM sc_w{r}".format(r=r)
        for r in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n  ".join(ctes)
        + """\n  SELECT rnd AS round, d AS doc_id, g AS gain,
         CAST(sum(g) OVER (ORDER BY rnd ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS covered_total
  FROM ({u}) WHERE g > 0""".format(u=unions)
    )



def _perceptron_sql(n_iter: int = 3) -> str:
    """Unrolled replay of perceptron_train over the documents corpus:
    per round one aggregate of integer gradient sums under the prior
    round's weights (HUGEINT mirrors the engine's DECIMAL(38,0))."""
    toks = r"string_split_regex(trim(text), '\s+')"
    ctes = [
        f"""pc_f AS (SELECT CAST(len({toks}) AS HUGEINT) AS x0,
                   CAST(n_chars AS HUGEINT) AS x1,
                   CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END
                        AS HUGEINT) AS y
            FROM documents)""",
        """pc_w0 AS (SELECT CAST(0 AS HUGEINT) AS w0,
                     CAST(0 AS HUGEINT) AS w1,
                     CAST(0 AS HUGEINT) AS b,
                     CAST(0 AS HUGEINT) AS nm)""",
    ]
    for t in range(1, n_iter + 1):
        ctes.append(
            """pc_s{t} AS (
    SELECT count(CASE WHEN y * (w.w0 * x0 + w.w1 * x1 + w.b) <= 0
                 THEN 1 END) AS nm,
           coalesce(sum(CASE WHEN y * (w.w0 * x0 + w.w1 * x1 + w.b) <= 0
                        THEN y * x0 ELSE 0 END), 0) AS d0,
           coalesce(sum(CASE WHEN y * (w.w0 * x0 + w.w1 * x1 + w.b) <= 0
                        THEN y * x1 ELSE 0 END), 0) AS d1,
           coalesce(sum(CASE WHEN y * (w.w0 * x0 + w.w1 * x1 + w.b) <= 0
                        THEN y ELSE 0 END), 0) AS db
    FROM pc_f CROSS JOIN pc_w{p} w),
  pc_w{t} AS (SELECT w.w0 + s.d0 AS w0, w.w1 + s.d1 AS w1,
                     w.b + s.db AS b, s.nm AS nm
              FROM pc_w{p} w CROSS JOIN pc_s{t} s)""".format(t=t, p=t - 1)
        )
    selects = [
        f"""SELECT CAST({t} AS BIGINT) AS iter,
         CAST(nm AS BIGINT) AS n_misclassified,
         CAST(w0 AS BIGINT) AS w_n_tokens, CAST(w1 AS BIGINT) AS w_n_chars,
         CAST(b AS BIGINT) AS bias FROM pc_w{t}"""
        for t in range(1, n_iter + 1)
    ]
    return "WITH " + ",\n  ".join(ctes) + "\n  " + "\n  UNION ALL ".join(selects)


def _ktruss_sql(k: int = 4, rounds: int = 2) -> str:
    """Unrolled replay of ktruss over the co-purchase graph: per round
    the Suri-Vassilvitskii triangle enumeration, a 3-way UNION ALL
    explode to member edges, a support count, and the >= k-2 filter;
    final support recomputed on the survivors."""
    thr = k - 2
    ctes = ["""kt_p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
  kt_e0 AS (SELECT DISTINCT LEAST(pa, pb) AS a, GREATEST(pa, pb) AS b
            FROM kt_p WHERE pa != pb)"""]
    def round_ctes(i: int) -> str:
        return """kt_t{i} AS (
    SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
    FROM kt_e{i} e1 JOIN kt_e{i} e2 ON e1.a = e2.a AND e1.b < e2.b
    JOIN kt_e{i} e3 ON e3.a = e1.b AND e3.b = e2.b),
  kt_s{i} AS (
    SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
      SELECT ta AS a, tb AS b FROM kt_t{i}
      UNION ALL SELECT ta, tc FROM kt_t{i}
      UNION ALL SELECT tb, tc FROM kt_t{i})
    GROUP BY a, b)""".format(i=i)
    for i in range(rounds):
        ctes.append(round_ctes(i))
        ctes.append(
            """kt_e{n} AS (
    SELECT e.a, e.b FROM kt_e{i} e
    JOIN kt_s{i} s ON s.a = e.a AND s.b = e.b AND s.support >= {thr})""".format(
                n=i + 1, i=i, thr=thr
            )
        )
    ctes.append(round_ctes(rounds))
    return (
        "WITH " + ",\n  ".join(ctes)
        + """\n  SELECT e.a AS src, e.b AS dst,
         CAST(coalesce(s.support, 0) AS BIGINT) AS support
  FROM kt_e{r} e LEFT JOIN kt_s{r} s ON s.a = e.a AND s.b = e.b""".format(
            r=rounds
        )
    )



def _random_walks_sql(walk_length: int = 4) -> str:
    """Unrolled CTE replay of random_walks over the order-sequence
    graph: row_number-indexed adjacency, salted-md5 neighbor pick,
    dead ends carried through the left joins."""
    ctes = ["""rw_edges AS (
    SELECT DISTINCT a.l_partkey % 2001 AS src, b.l_partkey % 2001 AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
    WHERE a.l_partkey % 2001 <> b.l_partkey % 2001
      AND ((a.l_partkey % 2001) * 31 + (b.l_partkey % 2001)) % 7 = 3),
  rw_adj AS (SELECT src, dst,
                    CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
                         AS BIGINT) AS idx
             FROM rw_edges),
  rw_deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
             FROM rw_edges GROUP BY src),
  rw_nodes AS (SELECT DISTINCT node FROM (
      SELECT src AS node FROM rw_edges UNION ALL SELECT dst FROM rw_edges)),
  rw_w0 AS (SELECT node AS walk_id, node AS cur,
                   CAST(node AS VARCHAR) AS path,
                   CAST(0 AS BIGINT) AS steps
            FROM rw_nodes)"""]
    for t in range(1, walk_length + 1):
        ctes.append(
            """rw_w{t} AS (
    SELECT w.walk_id,
           coalesce(a.dst, w.cur) AS cur,
           CASE WHEN a.dst IS NOT NULL
                THEN w.path || '>' || CAST(a.dst AS VARCHAR)
                ELSE w.path END AS path,
           w.steps + CASE WHEN a.dst IS NOT NULL THEN 1 ELSE 0 END AS steps
    FROM rw_w{p} w
    LEFT JOIN rw_deg d ON d.src = w.cur
    LEFT JOIN rw_adj a ON a.src = w.cur
     AND a.idx = 1 + (CAST('0x' || substr(md5(
           CAST(w.walk_id AS VARCHAR) || '|{t}|rw'), 1, 8) AS BIGINT)
           % d.deg))""".format(t=t, p=t - 1)
        )
    return (
        "WITH " + ",\n  ".join(ctes)
        + f"\n  SELECT walk_id, cur AS final_node, path,"
        + f" steps AS steps_taken FROM rw_w{walk_length}"
    )



def _hilbert_sql(bits: int = 16) -> str:
    """CTE chain replaying with_hilbert_key's per-level rotate-and-flip
    state machine (confined-value variant, so no engine-specific
    negative-number bit semantics are involved)."""
    ctes = ["""hk0 AS (SELECT o_orderkey,
        CAST(o_custkey AS BIGINT) & {m} AS hx,
        CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS BIGINT) & {m} AS hy,
        CAST(0 AS BIGINT) AS hd
     FROM orders)""".format(m=(1 << bits) - 1)]
    lvl = 0
    for i in range(bits - 1, -1, -1):
        s_ = 1 << i
        prev, lvl = lvl, lvl + 1
        ctes.append(
            """hk{lvl} AS (SELECT o_orderkey,
        CASE WHEN ((hy >> {i}) & 1) = 1 THEN hx & {sm}
             WHEN ((hx >> {i}) & 1) = 1 THEN {sm} - (hy & {sm})
             ELSE hy & {sm} END AS hx,
        CASE WHEN ((hy >> {i}) & 1) = 1 THEN hy & {sm}
             WHEN ((hx >> {i}) & 1) = 1 THEN {sm} - (hx & {sm})
             ELSE hx & {sm} END AS hy,
        hd + {ss} * xor(3 * ((hx >> {i}) & 1), (hy >> {i}) & 1) AS hd
     FROM hk{prev})""".format(lvl=lvl, prev=prev, i=i, sm=s_ - 1, ss=s_ * s_)
        )
    return (
        "WITH " + ",\n  ".join(ctes)
        + f"\n  SELECT o_orderkey, hd AS hkey FROM hk{lvl}"
    )


def oracle_sql() -> dict[str, str]:
    blocklist_norm = ", ".join(f"'{b.strip().lower()}'" for b in BLOCKLIST)
    jaccard_tail = """
  sets AS (SELECT doc_id, list_distinct(toks) AS elems FROM tok),
  j AS (SELECT p.doc_id_a, p.doc_id_b,
               len(list_filter(a.elems, x -> list_contains(b.elems, x))) AS inter,
               len(a.elems) + len(b.elems)
                 - len(list_filter(a.elems, x -> list_contains(b.elems, x))) AS un
        FROM pairs p
        JOIN sets a ON p.doc_id_a = a.doc_id
        JOIN sets b ON p.doc_id_b = b.doc_id)
  SELECT doc_id_a, doc_id_b, CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) AS jaccard FROM j"""

    # Building blocks for the merged-battery oracles (each mirrors one
    # constituent of a `method`-tagged union query).
    brute_topk_sql = _cosine_sql(
        extra_cols="",
        join_cond="q.vec_id < 32 AND c.vec_id != q.vec_id",
        k=5,
        out_cols=(
            "vec_id, neighbor_id, "
            "ROW_NUMBER() OVER (PARTITION BY vec_id "
            "ORDER BY cos DESC, neighbor_id) AS sim_rank, "
            "cos AS cos_sim"
        ),
    )
    # IVF over the TRAINED codebook: the centroid CTE is the final
    # Lloyd-iteration frame (c2) from the same unrolled k-means CTEs the
    # kmeans_semantic oracle uses — fit → codebook → probe, like the
    # Spark side's kmeans_fit_assign → ivf_topk composition.
    kmeans_ctes = _kmeans_sql().rsplit("\n  SELECT ", 1)[0]
    ivf_topk_sql = f"""
  {kmeans_ctes},
  n AS (SELECT vec_id, v, sqrt({_COS_DOT.format(a="v", b="v")}) AS nrm FROM e),
  cent AS (SELECT cid, cv, sqrt({_COS_DOT.format(a="cv", b="cv")}) AS cn
           FROM (SELECT cid, v AS cv FROM c2)),
  assign AS (
    SELECT vec_id AS neighbor_id, cid, v AS nv, nrm AS nn FROM (
      SELECT n.vec_id, c.cid, n.v, n.nrm,
             ROW_NUMBER() OVER (PARTITION BY n.vec_id
               ORDER BY {_COS_DOT.format(a="n.v", b="c.cv")} / (n.nrm * c.cn) DESC,
                        c.cid) AS r
      FROM n, cent c) WHERE r = 1),
  probe AS (
    SELECT vec_id, cid, v, nrm FROM (
      SELECT n.vec_id, c.cid, n.v, n.nrm,
             ROW_NUMBER() OVER (PARTITION BY n.vec_id
               ORDER BY {_COS_DOT.format(a="n.v", b="c.cv")} / (n.nrm * c.cn) DESC,
                        c.cid) AS r
      FROM n, cent c WHERE n.vec_id < 16) WHERE r <= 2),
  pairs AS (
    SELECT p.vec_id, a.neighbor_id,
           {_COS_DOT.format(a="p.v", b="a.nv")} / (p.nrm * a.nn) AS cos
    FROM probe p JOIN assign a USING (cid)
    WHERE p.vec_id != a.neighbor_id)
  SELECT vec_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY cos DESC, neighbor_id) AS sim_rank,
         cos AS cos_sim
  FROM pairs
  QUALIFY sim_rank <= 3"""
    ngram_pairs_sql = f"""
  WITH tok AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
  sh AS (SELECT doc_id, source, {_SHINGLES} AS shingles FROM tok),
  sets AS (SELECT doc_id, source, list_distinct(shingles) AS elems FROM sh),
  j AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               len(list_filter(a.elems, x -> list_contains(b.elems, x))) AS inter,
               len(a.elems) + len(b.elems)
                 - len(list_filter(a.elems, x -> list_contains(b.elems, x))) AS un
        FROM sets a JOIN sets b
          ON a.source = b.source AND a.doc_id < b.doc_id)
  SELECT doc_id_a, doc_id_b,
         CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) AS jaccard
  FROM j WHERE CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) >= 0.0"""

    base = {
        "per_key_windowed_sum": """
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey) AS DOUBLE) AS total_debt
  FROM orders""",
        "distinct_list_per_key": """
  SELECT o_custkey,
         array_to_string(list_sort(list_distinct(list(o_orderstatus))), ', ') AS status_list,
         CAST(len(list_distinct(list(o_orderstatus))) AS INT) AS status_count
  FROM orders GROUP BY o_custkey""",
        "group_count_having": """
  SELECT o_custkey, COUNT(*) AS n_critical FROM orders
  WHERE o_orderstatus = 'F' GROUP BY o_custkey HAVING COUNT(*) >= 3""",
        "threshold_anti_join": """
  SELECT c_custkey, c_name, c_acctbal FROM customer
  WHERE c_custkey NOT IN (
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_custkey HAVING COUNT(*) >= 3)""",
        # Two engine implementations (window form + min_by reduction),
        # one keep-best semantics — the oracle is the same QUALIFY select
        # under both variant tags.
        "smart_dedup": """
  WITH k AS (
    SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
      ORDER BY (o_orderstatus = 'O') DESC, o_totalprice DESC, o_orderkey) = 1)
  SELECT 'window' AS variant, * FROM k
  UNION ALL
  SELECT 'maxby' AS variant, * FROM k""",
        "completeness_dedup": """
  WITH c AS (
    SELECT o_custkey, o_orderkey,
           (CASE WHEN NULLIF(o_orderstatus, 'F') IS NOT NULL THEN 1 ELSE 0 END)
         + (CASE WHEN NULLIF(o_orderpriority, '5-LOW') IS NOT NULL THEN 1 ELSE 0 END)
         + (CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END) AS completude
    FROM orders)
  SELECT o_custkey, o_orderkey, completude FROM c
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
    ORDER BY completude DESC, o_orderkey) = 1""",
        "rank_in_group": """
  SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%d/%m/%Y') AS ship_dt,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
           ORDER BY l_shipdate, l_linenumber, l_extendedprice,
                    l_partkey, l_suppkey) AS invoice_rank,
         replace(printf('%.2f', l_extendedprice), '.', ',') AS valor_humano,
         CASE WHEN l_quantity = floor(l_quantity)
              THEN CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
              ELSE replace(printf('%.2f', l_quantity), '.', ',') END AS valor_robo
  FROM lineitem""",
        "topk_per_group": """
  SELECT l_orderkey, l_linenumber,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
           ORDER BY l_shipdate, l_linenumber, l_extendedprice,
                    l_partkey, l_suppkey) AS invoice_rank,
         l_extendedprice
  FROM lineitem
  QUALIFY invoice_rank <= 3""",
        "rank_pivot": """
  WITH r AS (
    SELECT l_orderkey, strftime(l_shipdate, '%d/%m/%Y') AS ship_dt, l_extendedprice,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
             ORDER BY l_shipdate, l_linenumber, l_extendedprice,
                      l_partkey, l_suppkey) AS rn
    FROM lineitem)
  SELECT l_orderkey,
         MIN(CASE WHEN rn = 1 THEN ship_dt END) AS ship_dt_1,
         MIN(CASE WHEN rn = 1 THEN l_extendedprice END) AS l_extendedprice_1,
         MIN(CASE WHEN rn = 2 THEN ship_dt END) AS ship_dt_2,
         MIN(CASE WHEN rn = 2 THEN l_extendedprice END) AS l_extendedprice_2,
         MIN(CASE WHEN rn = 3 THEN ship_dt END) AS ship_dt_3,
         MIN(CASE WHEN rn = 3 THEN l_extendedprice END) AS l_extendedprice_3
  FROM r WHERE rn <= 3 GROUP BY l_orderkey""",
        "head_row_per_group": """
  SELECT o_custkey, o_orderkey AS first_orderkey,
         strftime(o_orderdate, '%d/%m/%Y') AS first_orderdate,
         o_totalprice AS first_totalprice
  FROM orders
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
    ORDER BY o_orderdate, o_orderkey) = 1""",
        "priority_case_sort": f"""
  SELECT o_orderkey, {_priority_case_sql()} AS priority_level, o_totalprice
  FROM orders""",
        "blocklist_split": f"""
  SELECT CASE WHEN o_orderpriority IS NOT NULL
               AND lower(trim(o_orderpriority)) IN ({blocklist_norm})
              THEN 'rejected' ELSE 'kept' END AS side,
         o_orderkey, o_custkey, o_orderpriority,
         CASE WHEN o_orderpriority IS NOT NULL
               AND lower(trim(o_orderpriority)) IN ({blocklist_norm})
              THEN o_orderpriority END AS motivo_remocao
  FROM orders""",
        "segmentation": f"""
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_debt,
         CASE WHEN CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   >= {SEG_CUTOFF} THEN 'human' ELSE 'robot' END AS segment
  FROM orders GROUP BY o_custkey""",
        "enrichment_phones": f"""
  WITH e AS (
    SELECT l_orderkey, {_ENRICH_LIST} AS tels FROM lineitem GROUP BY l_orderkey),
  m AS (
    SELECT o.o_orderkey, o.o_custkey,
           array_to_string(e.tels, ', ') AS phone_list,
           COALESCE(e.tels, CAST([] AS VARCHAR[])) ||
           list_filter([
             {_CLEAN_PHONE.format(src="CAST(o.o_custkey AS VARCHAR) || '.0'")},
             {_CLEAN_PHONE.format(src="'(' || CAST(o.o_orderkey AS VARCHAR) || ') 77-88'")},
             {_CLEAN_PHONE.format(src="'abc'")}
           ], x -> x IS NOT NULL) AS merged
    FROM orders o LEFT JOIN e ON o.o_orderkey = e.l_orderkey),
  d AS (
    SELECT o_orderkey, o_custkey, phone_list,
           list_filter(merged, (x, i) -> list_position(merged, x) = i) AS dd
    FROM m)
  SELECT o_orderkey, o_custkey, phone_list,
         dd[1] AS telefone_01, dd[2] AS telefone_02,
         dd[3] AS telefone_03, dd[4] AS telefone_04
  FROM d""",
        "scalar_functions": """
  WITH v AS (
    SELECT *,
           CASE WHEN o_orderstatus = 'P' THEN ' n '
                WHEN o_orderstatus = 'F' THEN NULL
                ELSE o_orderstatus END AS val
    FROM orders)
  SELECT o_orderkey,
         CASE WHEN val IS NOT NULL AND upper(trim(val)) != 'N'
              THEN 'SIM' ELSE 'NÃO' END AS cliente_regulariza,
         strftime(o_orderdate, '%d/%m/%Y') AS dtvenc_br,
         strftime(strptime(strftime(o_orderdate, '%d/%m/%Y'), '%d/%m/%Y'),
                  '%d/%m/%Y') AS dt_roundtrip,
         CAST(year(o_orderdate) AS INT) AS venc_ano,
         regexp_replace(CAST(o_orderkey AS VARCHAR) || '.0', '\\.0$', '') AS id_clean,
         regexp_replace('(' || CAST(o_custkey AS VARCHAR) || ') 9-88',
                        '[^0-9]', '', 'g') AS phone_digits,
         lower(trim(o_orderpriority)) AS key_norm,
         replace(chr(65279) || o_orderstatus, chr(65279), '') AS bom_clean,
         TRY_CAST(replace(CASE WHEN o_orderkey % 3 = 0 THEN 'junk'
                               ELSE CAST(o_orderkey AS VARCHAR) || ',5' END,
                          ',', '.') AS DOUBLE) AS valor_parsed
  FROM v""",
        "union_sheets": """
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice, o_orderpriority
  FROM orders WHERE o_orderstatus = 'O'""",
        "mailing_pipeline_e2e": f"""
  WITH mailing AS (
    SELECT CASE WHEN o_custkey % 2 = 0 THEN 'EPB' ELSE 'EMT' END AS empresa,
           CAST(o_orderkey AS VARCHAR) AS ucv,
           CASE WHEN o_orderkey % 7 != 0
                THEN 'Cliente ' || CAST(o_custkey AS VARCHAR) END AS nomecad,
           'd' || CAST(o_custkey AS VARCHAR) AS ndoc,
           CAST(o_custkey AS VARCHAR) AS ncpf,
           replace(printf('%.2f', o_totalprice), '.', ',') AS valor,
           CASE WHEN o_orderstatus = 'F' AND o_orderkey % 5 = 0
                THEN 'BLOQUEADO JUDICIAL' END AS bloq,
           CASE WHEN o_orderstatus = 'O' THEN 'LIGADO' ELSE 'DESLIGADO' END AS sit,
           CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 'Até 30' ELSE 'Mais de 1 ano' END AS faixa,
           CASE WHEN o_custkey % 3 = 0 THEN 'SIM' ELSE 'NÃO' END AS iu12m,
           CASE WHEN o_orderkey % 3 = 1 THEN 'N'
                WHEN o_orderkey % 3 = 2 THEN 'S' END AS venc_maior_1ano,
           CASE WHEN o_orderkey % 2 = 0
                THEN '(84) ' || CAST(o_orderkey AS VARCHAR) END AS ind1
    FROM orders),
  bad AS (
    SELECT lower(trim(CAST(c_custkey AS VARCHAR))) AS bad_key FROM customer
    WHERE upper(trim(CASE WHEN c_custkey % 11 = 0
                          THEN 'CLIENTE FALECIDO' ELSE 'OUTRO' END))
          IN ('CLIENTE FALECIDO')
    GROUP BY 1 HAVING COUNT(*) >= 1),
  thresh AS (
    SELECT * FROM mailing
    WHERE lower(trim(ncpf)) NOT IN (SELECT bad_key FROM bad)),
  dedup AS (
    SELECT * FROM thresh
    QUALIFY ROW_NUMBER() OVER (PARTITION BY ncpf
      ORDER BY (nomecad IS NOT NULL AND trim(nomecad) != '') DESC, ucv) = 1),
  agg AS (
    SELECT *, CAST(SUM(CAST(TRY_CAST(replace(replace(valor,'.',''),',','.')
                 AS DOUBLE) AS DECIMAL(18,2)))
              OVER (PARTITION BY ncpf) AS DOUBLE) AS valor_divida
    FROM dedup),
  enr AS (
    SELECT lower(trim('d' || CAST(l_orderkey % 1500 AS VARCHAR))) AS documento,
           {_CLEAN_PHONE.format(src="CAST(l_partkey AS VARCHAR)")} AS telefone,
           l_extendedprice AS pontuacao
    FROM lineitem),
  enr_agg AS (
    SELECT documento, list(telefone ORDER BY -pontuacao, telefone) AS tels
    FROM enr WHERE telefone IS NOT NULL GROUP BY documento),
  phones AS (
    SELECT a.*, COALESCE(e.tels, CAST([] AS VARCHAR[])) ||
           list_filter([{_CLEAN_PHONE.format(src="a.ind1")}],
                       x -> x IS NOT NULL) AS merged
    FROM agg a LEFT JOIN enr_agg e ON lower(trim(a.ndoc)) = e.documento),
  spread AS (
    SELECT *, list_filter(merged, (x, i) -> list_position(merged, x) = i) AS dd
    FROM phones),
  flagged AS (
    SELECT *, CASE WHEN venc_maior_1ano IS NOT NULL
                        AND upper(trim(venc_maior_1ano)) != 'N'
                   THEN 'SIM' ELSE 'NÃO' END AS cliente_regulariza
    FROM spread),
  kept AS (
    SELECT * FROM flagged
    WHERE bloq IS NULL OR lower(trim(bloq)) NOT IN ('bloqueado judicial'))
  SELECT ncpf AS cpf, nomecad AS nome_cliente, empresa AS produto, valor_divida,
         cliente_regulariza, dd[1] AS telefone_01, dd[2] AS telefone_02,
         CASE WHEN upper(trim(faixa)) = 'ATÉ 30' OR upper(trim(sit)) = 'ATÉ 30'
                   OR upper(trim(iu12m)) = 'ATÉ 30' THEN 1
              WHEN upper(trim(faixa)) = 'DESLIGADO' OR upper(trim(sit)) = 'DESLIGADO'
                   OR upper(trim(iu12m)) = 'DESLIGADO' THEN 0
              ELSE 2 END AS priority_level,
         CASE WHEN valor_divida >= 150000.0 THEN 'human' ELSE 'robot' END AS segment
  FROM kept""",
        "robot_pipeline_e2e": """
  WITH r AS (
    SELECT CAST(l_orderkey AS VARCHAR) AS cpf, l_shipdate AS dtvenc,
           l_extendedprice AS liquido,
           md5(strftime(l_shipdate, '%d/%m/%Y')
               || printf('%.2f', l_extendedprice)) AS codbarra,
           CASE WHEN l_orderkey % 2 = 0 THEN 'EPB' ELSE 'EMT' END AS produto
    FROM lineitem),
  a AS (
    SELECT *, CAST(SUM(CAST(liquido AS DECIMAL(18,2)))
              OVER (PARTITION BY cpf) AS DOUBLE) AS valor_divida FROM r),
  rk AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cpf
      ORDER BY dtvenc, liquido, codbarra) AS rn FROM a),
  wide AS (
    SELECT cpf,
           MIN(CASE WHEN rn = 1 THEN dtvenc END) AS dtvenc_1,
           MIN(CASE WHEN rn = 2 THEN dtvenc END) AS dtvenc_2,
           MIN(CASE WHEN rn = 3 THEN dtvenc END) AS dtvenc_3,
           MIN(CASE WHEN rn = 1 THEN liquido END) AS liquido_1,
           MIN(CASE WHEN rn = 2 THEN liquido END) AS liquido_2,
           MIN(CASE WHEN rn = 3 THEN liquido END) AS liquido_3,
           MIN(CASE WHEN rn = 1 THEN codbarra END) AS codbarra_1,
           MIN(CASE WHEN rn = 2 THEN codbarra END) AS codbarra_2,
           MIN(CASE WHEN rn = 3 THEN codbarra END) AS codbarra_3
    FROM rk WHERE rn <= 3 GROUP BY cpf),
  head AS (
    SELECT cpf, produto, valor_divida FROM a
    QUALIFY ROW_NUMBER() OVER (PARTITION BY cpf ORDER BY dtvenc, liquido) = 1),
  j AS (SELECT h.*, w.* EXCLUDE (cpf) FROM head h LEFT JOIN wide w USING (cpf)),
  fmt AS (
    SELECT cpf, produto, valor_divida,
           CASE WHEN valor_divida = floor(valor_divida)
                THEN CAST(CAST(valor_divida AS BIGINT) AS VARCHAR)
                ELSE replace(printf('%.2f', valor_divida), '.', ',') END AS valor_total,
           strftime(dtvenc_1, '%d/%m/%Y') AS data_venc_1,
           strftime(dtvenc_2, '%d/%m/%Y') AS data_venc_2,
           strftime(dtvenc_3, '%d/%m/%Y') AS data_venc_3,
           CASE WHEN liquido_1 IS NULL THEN NULL
                WHEN liquido_1 = floor(liquido_1)
                THEN CAST(CAST(liquido_1 AS BIGINT) AS VARCHAR)
                ELSE replace(printf('%.2f', liquido_1), '.', ',') END AS valor_parcela_1,
           CASE WHEN liquido_2 IS NULL THEN NULL
                WHEN liquido_2 = floor(liquido_2)
                THEN CAST(CAST(liquido_2 AS BIGINT) AS VARCHAR)
                ELSE replace(printf('%.2f', liquido_2), '.', ',') END AS valor_parcela_2,
           CASE WHEN liquido_3 IS NULL THEN NULL
                WHEN liquido_3 = floor(liquido_3)
                THEN CAST(CAST(liquido_3 AS BIGINT) AS VARCHAR)
                ELSE replace(printf('%.2f', liquido_3), '.', ',') END AS valor_parcela_3,
           codbarra_1, codbarra_2, codbarra_3
    FROM j)
  SELECT * FROM fmt""",
        "export_human_layout": """
  SELECT o_orderkey AS okey, CAST(o_custkey AS VARCHAR) AS cpf,
         replace(printf('%.2f',
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey) AS DOUBLE)), '.', ',') AS valor_divida,
         strftime(o_orderdate, '%d/%m/%Y') AS dtvenc
  FROM orders""",
        "skew_salted_join": """
  SELECT o_orderkey, o_custkey, c_name, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey""",
        "value_profile": """
  SELECT 'o_orderstatus' AS "column", o_orderstatus AS "value",
         COUNT(*) AS n_rows FROM orders GROUP BY o_orderstatus
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority, COUNT(*)
  FROM orders GROUP BY o_orderpriority""",
        "audit_blocklist_clean": f"""
  WITH kept AS (
    SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
    WHERE o_orderpriority IS NULL
       OR lower(trim(o_orderpriority)) NOT IN ({blocklist_norm}))
  SELECT * FROM kept
  -- string columns only, matching the engine's audit (o_orderkey is numeric)
  WHERE lower(trim(o_orderstatus)) IN ({blocklist_norm})
     OR lower(trim(o_orderpriority)) IN ({blocklist_norm})""",
        "sessionization": """
  WITH l AS (
    SELECT event_id, user_id, epoch_us(ts) AS us,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS prev
    FROM events),
  m AS (SELECT event_id, user_id, us,
               CASE WHEN prev IS NULL OR us - prev > 1800000000
                    THEN 1 ELSE 0 END AS is_new FROM l)
  SELECT event_id, user_id,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM m""",
        "asof_join": """
  SELECT event_id, user_id, asof_o_orderkey FROM (
    SELECT e.event_id, e.user_id, o.o_orderkey AS asof_o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY e.event_id
             ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
    FROM events e LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
  WHERE rn = 1""",
        "window_counts": """
  -- tumbling: 1h windows. sliding: 1h windows every 30min — event at t
  -- belongs to starts {floor30(t), floor30(t) - 30min}
  -- (30-min grid, s <= t < s + 1h).
  WITH g AS (
    SELECT to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS g30,
           date_trunc('hour', ts) AS h, event_type, value FROM events),
  assigned AS (
    SELECT g30 AS window_start_ts, event_type, value FROM g
    UNION ALL
    SELECT g30 - INTERVAL 30 MINUTE, event_type, value FROM g)
  SELECT 'tumbling' AS kind,
         strftime(h, '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, COUNT(*) AS n_events,
         MIN(value) AS min_value, MAX(value) AS max_value
  FROM g GROUP BY 2, 3
  UNION ALL
  SELECT 'sliding' AS kind,
         strftime(window_start_ts, '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, COUNT(*) AS n_events,
         MIN(value) AS min_value, MAX(value) AS max_value
  FROM assigned GROUP BY 2, 3""",
        "text_metrics": f"""
  WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
  b AS (SELECT doc_id, toks,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(list_filter(toks,
                 x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT) AS n_stop,
               CAST(len(list_filter(toks, x -> list_contains(['the','a','of'], x))) AS BIGINT) AS score_en,
               CAST(len(list_filter(toks, x -> list_contains(['el','la','los'], x))) AS BIGINT) AS score_es,
               CAST(len(list_filter(toks, x -> list_contains(['der','und','das'], x))) AS BIGINT) AS score_de,
               CASE WHEN len(toks) > 0
                    THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS dup_word_frac
        FROM t),
  g AS (SELECT doc_id, concat_ws(' ', toks[i], toks[i + 1]) AS gram
        FROM b, UNNEST(CASE WHEN len(toks) >= 2 THEN range(1, len(toks))
                            ELSE CAST([] AS BIGINT[]) END) AS u(i)),
  gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
  gm AS (SELECT doc_id, MAX(c) AS mx FROM gc GROUP BY 1)
  SELECT b.doc_id, b.n_tokens, b.n_chars_calc, b.n_stop,
         CAST(b.n_stop AS DOUBLE) / CAST(b.n_tokens AS DOUBLE) AS stop_ratio,
         CAST(CASE WHEN CAST(b.n_stop AS DOUBLE) / CAST(b.n_tokens AS DOUBLE) <= 0.3
                    AND b.n_tokens >= 50 THEN 1 ELSE 0 END AS INT) AS is_quality,
         b.score_en, b.score_es, b.score_de,
         CASE WHEN score_es > score_en AND score_es >= score_de THEN 'es'
              WHEN score_de > score_en AND score_de > score_es THEN 'de'
              ELSE 'en' END AS pred_lang,
         b.dup_word_frac,
         COALESCE(CAST(gm.mx * 2 AS DOUBLE) / b.n_tokens, 0.0) AS top_2gram_frac,
         CAST(CASE WHEN b.dup_word_frac > 0.9
                     OR COALESCE(CAST(gm.mx * 2 AS DOUBLE) / b.n_tokens, 0.0) > 0.2
                   THEN 1 ELSE 0 END AS INT) AS is_repetitive
  FROM b LEFT JOIN gm USING (doc_id)""",
        "text_transforms": (
            r"""
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS BIGINT) AS n_bpe_tokens,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''),
                            c -> CAST(ascii(c) AS BIGINT))),
           (acc, v) -> (acc * 31 + v) % 2147483647) AS rolling_fp,"""
            + f"""
         md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint,
         {_norm_expr()} AS norm_text,
         md5({_norm_expr()}) AS norm_digest
  FROM documents"""
        ),
        "dedup_exact": """
  SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
  FROM documents GROUP BY md5(text)""",
        # Per-doc MinHash signature + LSH bands joined with SimHash-16 —
        # same grain as q_dedup_fingerprints's doc_id join.
        "dedup_fingerprints": f"""
  SELECT s.*, h.simhash16
  FROM ({_minhash_sig_sql()}) s JOIN ({_simhash_sql()}) h USING (doc_id)""",
        # Banded Hamming search over 64-bit SimHash: 4×16-bit bands
        # (pigeonhole-exact for distance <= 3), then bit_count(xor) on
        # the banded candidates only — mirrors simhash_hamming_pairs.
        "dedup_simhash_pairs": f"""
  WITH fp AS ({_simhash64_sql()}),
  banded AS (SELECT doc_id, simhash64, i AS band_idx,
             (simhash64 >> (16 * i)) & 65535 AS band_val
             FROM fp, (SELECT UNNEST(range(4)) AS i)),
  cand AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           a.simhash64 AS fp_a, b.simhash64 AS fp_b
           FROM banded a JOIN banded b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id)
  SELECT doc_id_a, doc_id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
  FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3""",
        # `method`-tagged candidate-pair union: MinHash+LSH band join with
        # exact Jaccard verify, plus blocked n-gram Jaccard
        # (q_dedup_pairs unions jaccard_on_pairs with ngram_jaccard_pairs).
        "dedup_pairs": f"""
  SELECT *, 'minhash_lsh' AS method FROM (WITH {_minhash_pairs_cte()},{jaccard_tail})
  UNION ALL
  SELECT *, 'ngram_block' AS method FROM ({ngram_pairs_sql})""",
        # Iterative min-label propagation in Spark; the oracle computes
        # the same fixpoint in closed form with a recursive CTE — every
        # doc's cluster is the MIN doc id reachable through the LSH
        # near-dup pair graph (singletons keep their own id). The
        # large-star/small-star engine variant has the IDENTICAL output
        # contract, so the same oracle verifies both implementations.
        "dedup_clusters": _clusters_reach_sql(),
        "dedup_clusters_star": _clusters_reach_sql(),
        # PQ ADC top-k: per-subspace unrolled Lloyd chains, grid-exact
        # distance tables, BIGINT ADC sums (similarity.pq_*).
        "pq_topk": _pq_topk_sql(),
        # Merged exact + IVF search, `method`-tagged like the Spark side
        # (q_similarity_topk unions cosine_topk with ivf_topk).
        "similarity_topk": f"""
  SELECT *, 'brute' AS method FROM ({brute_topk_sql})
  UNION ALL
  SELECT *, 'ivf' AS method FROM ({ivf_topk_sql})""",
        "similarity_ann_buckets": _cosine_sql(
            extra_cols=f", {_BUCKET_SQL} AS bucket",
            join_cond="q.bucket = c.bucket AND c.vec_id != q.vec_id",
            k=3,
            out_cols=(
                "vec_id, CAST(bucket AS BIGINT) AS bucket, neighbor_id, "
                "ROW_NUMBER() OVER (PARTITION BY vec_id "
                "ORDER BY cos DESC, neighbor_id) AS sim_rank"
            ),
        ),
        "corpus_curation_e2e": f"""
  WITH t0 AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
  q AS (
    SELECT doc_id, text, toks,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks,
             x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT) AS n_stop
    FROM t0),
  gated AS (
    SELECT *, CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio
    FROM q
    WHERE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.5
      AND n_tokens >= 10),
  reps AS (SELECT md5(text) AS h, MIN(doc_id) AS keep FROM gated GROUP BY md5(text)),
  exact AS (
    SELECT g.* FROM gated g JOIN reps r
      ON md5(g.text) = r.h AND g.doc_id = r.keep),
  sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM exact),
  sig AS (SELECT doc_id,
    {", ".join(f"list_aggregate(list_transform(shingles, s -> md5(s || '|{j}')), 'min') AS mh_{j}" for j in range(1, 7))}
  FROM sh),
  bandvals AS (SELECT doc_id,
    {", ".join(f"md5(mh_{2 * b - 1} || '|' || mh_{2 * b}) AS band_{b}" for b in range(1, 4))}
  FROM sig),
  bands AS (
    SELECT doc_id, 0 AS band_idx, band_1 AS band_val FROM bandvals WHERE band_1 IS NOT NULL
    UNION ALL SELECT doc_id, 1, band_2 FROM bandvals WHERE band_2 IS NOT NULL
    UNION ALL SELECT doc_id, 2, band_3 FROM bandvals WHERE band_3 IS NOT NULL),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id),
  sets AS (SELECT doc_id, list_distinct(toks) AS elems FROM exact),
  drops AS (
    SELECT DISTINCT p.doc_id_b AS dropped FROM pairs p
    JOIN sets a ON p.doc_id_a = a.doc_id
    JOIN sets b ON p.doc_id_b = b.doc_id
    WHERE CAST(len(list_filter(a.elems, x -> list_contains(b.elems, x))) AS DOUBLE)
          / CAST(len(a.elems) + len(b.elems)
                 - len(list_filter(a.elems, x -> list_contains(b.elems, x))) AS DOUBLE)
          >= 0.8)
  SELECT doc_id, n_tokens, stop_ratio,
         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
  FROM exact WHERE doc_id NOT IN (SELECT dropped FROM drops)""",
        "embedding_near_dup": _near_dup_sql(),
        # `method`-tagged sampling union mirroring q_sampling_suite:
        # md5-bucket fractional, per-source quota, per-domain mixture.
        "sampling_suite": """
  SELECT doc_id, source, 'hash' AS method FROM documents
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'), 1, 4) AS INT)
        < 16384
  UNION ALL
  SELECT doc_id, source, 'stratified' AS method FROM documents
  QUALIFY ROW_NUMBER() OVER (PARTITION BY source
    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|'), doc_id) <= 20
  UNION ALL
  SELECT doc_id, source, 'mixture' AS method FROM documents
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'), 1, 4) AS INT)
        < CASE source WHEN 'src0' THEN 65536 WHEN 'src1' THEN 32768
                      WHEN 'src2' THEN 32768 WHEN 'src3' THEN 16384
                      ELSE 6553 END""",
        "pii_redact": r"""
  WITH inj AS (
    SELECT doc_id,
           text || ' contato user' || CAST(doc_id AS VARCHAR) || '@example.com'
                || ' cpf ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                || '.' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
                || '.' || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0')
                || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                || ' tel (' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                || ') 9' || lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0')
                || '-' || lpad(CAST((doc_id * 17) % 10000 AS VARCHAR), 4, '0')
                || CASE WHEN doc_id % 3 = 0
                        THEN ' ip ' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
                          || '.' || CAST((doc_id * 5) % 256 AS VARCHAR)
                          || '.' || CAST((doc_id * 11) % 256 AS VARCHAR)
                        ELSE '' END AS text
    FROM documents),
  s1 AS (SELECT doc_id, text AS t0,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
         FROM inj),
  s2 AS (SELECT doc_id, n_email,
           CAST(len(regexp_extract_all(t1,
             '\b\d{3}\.\d{3}\.\d{3}-\d{2}\b')) AS INT) AS n_cpf,
           regexp_replace(t1, '\b\d{3}\.\d{3}\.\d{3}-\d{2}\b', '<CPF>', 'g') AS t2
         FROM s1),
  s3 AS (SELECT doc_id, n_email, n_cpf,
           CAST(len(regexp_extract_all(t2,
             '\(\d{2}\)\s?\d{4,5}-\d{4}')) AS INT) AS n_phone,
           regexp_replace(t2, '\(\d{2}\)\s?\d{4,5}-\d{4}', '<PHONE>', 'g') AS t3
         FROM s2)
  SELECT doc_id, n_email, n_cpf, n_phone,
         CAST(len(regexp_extract_all(t3,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
         regexp_replace(t3, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                        '<IP>', 'g') AS redacted
  FROM s3""",
        "sequence_pack": f"""
  WITH t AS (SELECT doc_id, source,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents),
  c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
  SELECT doc_id, source, n_tokens,
         cum - n_tokens AS start_tok,
         (cum - n_tokens) // 256 AS first_seq,
         GREATEST((cum - 1) // 256, (cum - n_tokens) // 256) AS last_seq,
         (cum - n_tokens) % 256 AS offset_in_seq,
         CAST(CASE WHEN n_tokens > 0
              THEN GREATEST((cum - 1) // 256, (cum - n_tokens) // 256)
                   - (cum - n_tokens) // 256 + 1
              ELSE 0 END AS BIGINT) AS n_seqs
  FROM c""",
        "dedup_lines": """
  WITH lined AS (
    SELECT doc_id,
           'subscribe to our newsletter today' || chr(10)
           || 'promo code ' || source || chr(10)
           || 'doc ' || CAST(doc_id AS VARCHAR) || ' unique line' || chr(10)
           || text AS text
    FROM documents),
  s AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM lined),
  l AS (
    SELECT doc_id, parts[i] AS line, i AS pos
    FROM s, UNNEST(range(1, len(parts) + 1)) AS t(i)),
  f AS (SELECT line, COUNT(DISTINCT doc_id) AS nd FROM l GROUP BY 1),
  k AS (SELECT l.doc_id, l.pos, l.line, (f.nd >= 5) AS rm
        FROM l JOIN f USING (line))
  SELECT doc_id,
         COALESCE(string_agg(CASE WHEN NOT rm THEN line END, chr(10)
                             ORDER BY pos), '') AS text,
         CAST(COUNT(CASE WHEN NOT rm THEN 1 END) AS BIGINT) AS n_lines_kept,
         CAST(COUNT(CASE WHEN rm THEN 1 END) AS BIGINT) AS n_lines_removed
  FROM k GROUP BY doc_id""",
        "corpus_stats": f"""
  WITH p AS (SELECT source,
               CAST(len({_TOKS}) AS BIGINT) AS tok,
               CAST(len(text) AS BIGINT) AS ch FROM documents),
  a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS n_tokens,
               CAST(SUM(ch) AS BIGINT) AS n_chars
        FROM p GROUP BY 1)
  SELECT source, n_docs, n_tokens, n_chars,
         CAST(n_tokens AS DOUBLE) / n_docs AS avg_tokens,
         CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS BIGINT) AS share_docs,
         CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS BIGINT)
           AS share_tokens
  FROM a""",
        # Hashing-trick features + Lloyd k-means (q_text_clusters): the
        # feature CTE rebuilds the md5-bucket count vectors, then the
        # same unrolled k-means CTEs run over them via src=.
        "text_clusters": f"""
  WITH tc_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  tc_feats AS (SELECT doc_id AS vec_id,
      list_transform(range(64), i -> CAST(len(list_filter(toks,
        t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 64 = i))
        AS DOUBLE)) AS embedding
    FROM tc_tok)
  SELECT vec_id AS doc_id, cluster_id, dist_sq
  FROM ({_kmeans_sql(src="tc_feats")})""",
        # Exact interpolated token-length percentiles per source
        # (q_corpus_quantiles): quantile_cont shares Spark percentile's
        # rank q·(n−1) linear interpolation.
        "corpus_quantiles": f"""
  WITH p AS (SELECT source, CAST(len({_TOKS}) AS BIGINT) AS tok
             FROM documents),
  a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(tok) AS min_tokens, MAX(tok) AS max_tokens,
               quantile_cont(tok, [0.25, 0.5, 0.9, 0.99]) AS pct
        FROM p GROUP BY 1)
  SELECT source, n_docs, min_tokens, max_tokens,
         pct[1] AS p25_tokens, pct[2] AS p50_tokens,
         pct[3] AS p90_tokens, pct[4] AS p99_tokens
  FROM a""",
        # k-means assignment + SemDeDup survival flag in one grain
        # (q_kmeans_semantic: kmeans_fit_assign left-joined with
        # semantic_dedup survivors, kept = 0/1).
        "kmeans_semantic": f"""
  SELECT k.vec_id, k.cluster_id, k.dist_sq,
         CAST(CASE WHEN s.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS kept
  FROM ({_kmeans_sql()}) k
  LEFT JOIN ({_semantic_dedup_sql()}) s ON k.vec_id = s.vec_id""",
        "interval_join": """
  WITH iv AS (SELECT user_id, MIN(ts) AS start_ts,
                     MIN(ts) + INTERVAL 24 HOUR AS end_ts
              FROM events WHERE user_id % 10 = 0 GROUP BY user_id)
  SELECT e.event_id, e.user_id,
         strftime(iv.start_ts, '%Y-%m-%d %H:%M:%S.%f') AS w_start
  FROM events e JOIN iv ON e.user_id = iv.user_id
   AND e.ts >= iv.start_ts AND e.ts <= iv.end_ts""",
        "dedup_incremental": f"""
  WITH batch AS (SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN 'shared with store'
                WHEN doc_id % 7 = 0 THEN 'repeated batch doc'
                ELSE text END AS text
         FROM documents WHERE doc_id % 10 >= 3),
  store AS (SELECT CASE WHEN doc_id % 9 = 0 THEN 'shared with store'
                 ELSE text END AS text
          FROM documents WHERE doc_id % 10 < 3),
  bd AS (SELECT doc_id, md5({_norm_expr()}) AS norm_digest FROM batch),
  sd AS (SELECT DISTINCT md5({_norm_expr()}) AS norm_digest FROM store),
  first_ids AS (SELECT norm_digest, MIN(doc_id) AS doc_id
                FROM bd GROUP BY norm_digest)
  SELECT f.doc_id, f.norm_digest
  FROM first_ids f ANTI JOIN sd s ON f.norm_digest = s.norm_digest""",
        # Ledger-after-merge: the accepted batch digests unioned into the
        # store's digest set (updated_fingerprint_store) — same planted
        # setup as dedup_incremental, distinct over the union.
        "dedup_ledger_merge": f"""
  WITH batch AS (SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN 'shared with store'
                WHEN doc_id % 7 = 0 THEN 'repeated batch doc'
                ELSE text END AS text
         FROM documents WHERE doc_id % 10 >= 3),
  store AS (SELECT CASE WHEN doc_id % 9 = 0 THEN 'shared with store'
                 ELSE text END AS text
          FROM documents WHERE doc_id % 10 < 3),
  bd AS (SELECT doc_id, md5({_norm_expr()}) AS norm_digest FROM batch),
  sd AS (SELECT md5({_norm_expr()}) AS norm_digest FROM store),
  first_ids AS (SELECT norm_digest, MIN(doc_id) AS doc_id
                FROM bd GROUP BY norm_digest),
  accepted AS (SELECT f.norm_digest
               FROM first_ids f
               ANTI JOIN (SELECT DISTINCT norm_digest FROM sd) s
                 ON f.norm_digest = s.norm_digest)
  SELECT DISTINCT norm_digest FROM
    (SELECT norm_digest FROM sd UNION ALL SELECT norm_digest FROM accepted)""",
        # Incremental MinHash band-ledger gate: bands over all docs
        # (per-doc signatures are corpus-independent, so computing them
        # unfiltered then splitting equals the engine's filtered
        # frames); prior corpus doc_id % 5 = 0 keys the ledger,
        # collision sets drive the verdict CASE.
        "dedup_band_ledger": f"""
  WITH {_minhash_pairs_cte()},
  bl_ledger AS (SELECT DISTINCT band_idx, band_val FROM bands
                WHERE doc_id % 5 = 0),
  bl_new AS (SELECT doc_id, band_idx, band_val FROM bands
             WHERE doc_id % 5 <> 0),
  bl_hit AS (SELECT DISTINCT n.doc_id FROM bl_new n JOIN bl_ledger l
             ON n.band_idx = l.band_idx AND n.band_val = l.band_val),
  bl_dom AS (SELECT DISTINCT a.doc_id FROM bl_new a JOIN bl_new b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id > b.doc_id)
  SELECT d.doc_id,
         CASE WHEN h.doc_id IS NOT NULL THEN 'ledger_dup'
              WHEN m.doc_id IS NOT NULL THEN 'batch_dup'
              ELSE 'accepted' END AS verdict
  FROM documents d
  LEFT JOIN bl_hit h ON h.doc_id = d.doc_id
  LEFT JOIN bl_dom m ON m.doc_id = d.doc_id
  WHERE d.doc_id % 5 <> 0""",
        # Band-ledger write-back: the ledger keys plus the ACCEPTED
        # batch docs' band keys, distinct (updated_band_ledger).
        "band_ledger_update": f"""
  WITH {_minhash_pairs_cte()},
  bl_ledger AS (SELECT DISTINCT band_idx, band_val FROM bands
                WHERE doc_id % 5 = 0),
  bl_new AS (SELECT doc_id, band_idx, band_val FROM bands
             WHERE doc_id % 5 <> 0),
  bl_hit AS (SELECT DISTINCT n.doc_id FROM bl_new n JOIN bl_ledger l
             ON n.band_idx = l.band_idx AND n.band_val = l.band_val),
  bl_dom AS (SELECT DISTINCT a.doc_id FROM bl_new a JOIN bl_new b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id > b.doc_id)
  SELECT DISTINCT band_idx, band_val FROM (
    SELECT band_idx, band_val FROM bl_ledger
    UNION ALL
    SELECT band_idx, band_val FROM bl_new n
    WHERE n.doc_id NOT IN (SELECT doc_id FROM bl_hit)
      AND n.doc_id NOT IN (SELECT doc_id FROM bl_dom))""",
        # SCC: the oracle is a recursive transitive closure — max
        # mutual-reach partner (∪ self) reproduces the engine's
        # max-member labeling without mirroring the FW-BW peel rounds.
        # scc_nodes dedups via an explicit DISTINCT subquery: inside
        # WITH RECURSIVE DuckDB compiles a plain `a UNION b` CTE
        # without the dedup (observed: 2x edge count rows).
        "scc": """
  WITH RECURSIVE scc_edges AS (
    SELECT DISTINCT a.l_partkey % 2001 AS src, b.l_partkey % 2001 AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
    WHERE a.l_partkey % 2001 <> b.l_partkey % 2001
      AND ((a.l_partkey % 2001) * 31 + (b.l_partkey % 2001)) % 7 = 3
  ),
  scc_nodes AS (SELECT DISTINCT node FROM (
      SELECT src AS node FROM scc_edges UNION ALL SELECT dst FROM scc_edges)),
  scc_r(s, d) AS (
      SELECT src, dst FROM scc_edges
      UNION
      SELECT scc_r.s, e.dst FROM scc_r JOIN scc_edges e ON scc_r.d = e.src
  ),
  scc_mutual AS (
    SELECT a.s AS node, MAX(a.d) AS m
    FROM scc_r a JOIN scc_r b ON a.s = b.d AND a.d = b.s
    GROUP BY a.s
  )
  SELECT n.node, GREATEST(n.node, COALESCE(mu.m, n.node)) AS scc_id
  FROM scc_nodes n LEFT JOIN scc_mutual mu ON mu.node = n.node""",
        # CUSUM: the same prefix-sum closed form, two stacked windows
        # sharing one (user, ts, event_id) ordering; integer grid ends
        # to end, one double division per side.
        "cusum": """
  WITH cu AS (
    SELECT user_id, event_id, ts, value,
           CAST(floor(value * 1048576.0) AS BIGINT) - 57671680 AS d_hi,
           47185920 - CAST(floor(value * 1048576.0) AS BIGINT) AS d_lo
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  ),
  cu_pr AS (
    SELECT *, sum(d_hi) OVER w AS p_hi, sum(d_lo) OVER w AS p_lo
    FROM cu
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
  ),
  cu_st AS (
    SELECT *, p_hi - least(0, min(p_hi) OVER w) AS s_hi,
              p_lo - least(0, min(p_lo) OVER w) AS s_lo
    FROM cu_pr
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
  )
  SELECT user_id, event_id, value,
         CAST(s_hi AS DOUBLE) / 1048576.0 AS cusum_hi,
         CAST(s_lo AS DOUBLE) / 1048576.0 AS cusum_lo,
         (s_hi > 209715200 OR s_lo > 209715200) AS alarm
  FROM cu_st""",
        # Hilbert key: the same 16-level state machine as generated
        # CTEs (see _hilbert_sql).
        "hilbert_key": _hilbert_sql(16),
        # Event-sequence regex: ordered string_agg per user, the same
        # leftmost-first non-overlapping extract; patterns without
        # alternation-order traps behave identically under Java regex
        # and RE2.
        "sequence_pattern": """
  WITH sq AS (
    SELECT user_id,
           string_agg(CASE event_type WHEN 'view' THEN 'v'
                      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                      WHEN 'signup' THEN 's' WHEN 'error' THEN 'e' END,
                      '' ORDER BY ts, event_id) AS seq
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
      AND event_type IN ('view','click','purchase','signup','error')
    GROUP BY user_id)
  SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
         CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS BIGINT)
           AS n_matches,
         regexp_extract(seq, 'v[ce]*p') AS first_match
  FROM sq""",
        # Heaps vocabulary growth: first-occurrence aggregation + a
        # prefix window over the per-doc aggregate.
        "vocab_growth": r"""
  WITH vg_toks AS (
    SELECT d, t FROM (
      SELECT doc_id AS d,
             unnest(string_split_regex(trim(text), '\s+')) AS t
      FROM documents
      WHERE doc_id IS NOT NULL AND length(trim(text)) > 0)
    WHERE length(t) > 0),
  vg_per_doc AS (SELECT d, CAST(count(*) AS BIGINT) AS n_tokens
                 FROM vg_toks GROUP BY d),
  vg_first AS (SELECT t, min(d) AS d FROM vg_toks GROUP BY t),
  vg_new AS (SELECT d, CAST(count(*) AS BIGINT) AS new_types
             FROM vg_first GROUP BY d)
  SELECT p.d AS doc_id, p.n_tokens,
         CAST(sum(p.n_tokens) OVER w AS BIGINT) AS cum_tokens,
         CAST(coalesce(n.new_types, 0) AS BIGINT) AS new_types,
         CAST(sum(coalesce(n.new_types, 0)) OVER w AS BIGINT) AS cum_types
  FROM vg_per_doc p LEFT JOIN vg_new n USING (d)
  WINDOW w AS (ORDER BY p.d ROWS UNBOUNDED PRECEDING)""",
        # Benford profile: generated twin of the pivoted fixed-order
        # chi-square (see _benford_sql).
        "benford": _benford_sql(),
        # Interval union: same sweep — strictly-greater new-run flag on
        # the running max of previous ends, µs integers end to end.
        "interval_union": """
  WITH iu AS (
    SELECT user_id, event_id, epoch_us(ts) AS s,
           epoch_us(ts + (event_id % 3600 + 60) * INTERVAL 1 SECOND) AS e
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
  iu_f AS (
    SELECT user_id, event_id, s, e,
           CASE WHEN max(e) OVER wp IS NULL OR s > max(e) OVER wp
                THEN 1 ELSE 0 END AS nw
    FROM iu
    WINDOW wp AS (PARTITION BY user_id ORDER BY s, e, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
  iu_r AS (
    SELECT user_id, s, e, event_id,
           sum(nw) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                         ROWS UNBOUNDED PRECEDING) AS run
    FROM iu_f),
  iu_g AS (
    SELECT user_id, run, min(s) AS rs, max(e) AS re,
           CAST(count(*) AS BIGINT) AS n
    FROM iu_r GROUP BY user_id, run)
  SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
         CAST(count(*) AS BIGINT) AS n_merged,
         CAST(sum(re - rs) AS BIGINT) AS covered_us,
         CAST(CAST(sum(re - rs) AS BIGINT) AS DOUBLE) / 1000000.0
           AS covered_s
  FROM iu_g GROUP BY user_id""",
        # Merkle diff: same md5/bit_xor bucket digests per level, full
        # outer bucket compare, parent-match via the mod-hierarchy.
        "merkle_diff": """
  WITH mk_lv(level, m) AS (VALUES (0, 1), (1, 8), (2, 64)),
  mk_a AS (
    SELECT CAST(o_orderkey AS VARCHAR) AS ks,
           concat_ws(chr(31), CAST(o_orderkey AS VARCHAR),
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                     o_orderstatus) AS rs
    FROM orders WHERE o_orderkey IS NOT NULL),
  mk_b AS (
    SELECT CAST(o_orderkey AS VARCHAR) AS ks,
           concat_ws(chr(31), CAST(o_orderkey AS VARCHAR),
                     CAST(CASE WHEN o_orderkey % 101 = 0
                               THEN -CAST(o_totalprice AS DECIMAL(18,2))
                               ELSE CAST(o_totalprice AS DECIMAL(18,2)) END
                          AS VARCHAR),
                     o_orderstatus) AS rs
    FROM orders WHERE o_orderkey IS NOT NULL AND o_orderkey % 97 <> 0),
  mk_da AS (
    SELECT lv.level,
           CAST('0x' || substr(md5(ks), 1, 8) AS BIGINT) % lv.m AS bucket,
           CAST(count(*) AS BIGINT) AS n_a,
           bit_xor(CAST('0x' || substr(md5(rs), 1, 15) AS BIGINT))
             AS digest_a
    FROM mk_a, mk_lv lv GROUP BY 1, 2),
  mk_db AS (
    SELECT lv.level,
           CAST('0x' || substr(md5(ks), 1, 8) AS BIGINT) % lv.m AS bucket,
           CAST(count(*) AS BIGINT) AS n_b,
           bit_xor(CAST('0x' || substr(md5(rs), 1, 15) AS BIGINT))
             AS digest_b
    FROM mk_b, mk_lv lv GROUP BY 1, 2),
  mk_cmp AS (
    SELECT coalesce(a.level, b.level) AS level,
           coalesce(a.bucket, b.bucket) AS bucket,
           coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
           digest_a, digest_b,
           (coalesce(n_a, 0) = coalesce(n_b, 0)
            AND coalesce(digest_a, 0) = coalesce(digest_b, 0)) AS "match"
    FROM mk_da a FULL OUTER JOIN mk_db b
      ON a.level = b.level AND a.bucket = b.bucket)
  SELECT c.level, c.bucket, c.n_a, c.n_b, c.digest_a, c.digest_b,
         c."match", p."match" AS parent_match
  FROM mk_cmp c LEFT JOIN mk_cmp p
    ON p.level = c.level - 1
   AND p.bucket = c.bucket % (CASE c.level WHEN 1 THEN 1 ELSE 8 END)""",
        # Weighted quantiles: distinct-value collapse, window cumsum,
        # integer cross-multiplied reach test, min per (group, q).
        "weighted_quantiles": """
  WITH wq_pv AS (
    SELECT l_returnflag AS g, l_extendedprice AS v,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      AND CAST(l_quantity AS BIGINT) >= 0
    GROUP BY 1, 2),
  wq_c AS (
    SELECT g, v,
           CAST(sum(w) OVER (PARTITION BY g ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS tot
    FROM wq_pv),
  wq_q(q_num, q_den) AS (VALUES (CAST(1 AS BIGINT), CAST(4 AS BIGINT)),
                                (1, 2), (3, 4), (9, 10)),
  wq_hit AS (
    SELECT g, q_num, q_den, v, cum, tot
    FROM wq_c, wq_q
    WHERE tot > 0 AND cum * q_den >= q_num * tot)
  SELECT g AS l_returnflag, q_num, q_den,
         CAST(q_num AS DOUBLE) / CAST(q_den AS DOUBLE) AS q,
         min(v) AS value,
         CAST(min(cum) AS BIGINT) AS cum_weight,
         CAST(min(tot) AS BIGINT) AS total_weight
  FROM wq_hit GROUP BY g, q_num, q_den""",
        # Grid proximity join: the oracle IS the quadratic cross +
        # integer distance verify the cell bucketing avoids.
        "proximity_join": """
  WITH px_c AS (
    SELECT c_custkey AS id,
           CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|x'),
                1, 8) AS BIGINT) % 20000 AS x,
           CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|y'),
                1, 8) AS BIGINT) % 20000 AS y
    FROM customer),
  px_s AS (
    SELECT s_suppkey AS id,
           CAST('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || '|sx'),
                1, 8) AS BIGINT) % 20000 AS x,
           CAST('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || '|sy'),
                1, 8) AS BIGINT) % 20000 AS y
    FROM supplier)
  SELECT a.id AS id_a, b.id AS id_b,
         CAST((a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
  FROM px_c a, px_s b
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= 1000000""",
        # Subtree rollup: the oracle IS the recursive-CTE closure the
        # engine's log-depth squaring replaces.
        "subtree_rollup": """
  WITH RECURSIVE sr_v AS (
    SELECT p.p_partkey AS node,
           CAST(coalesce(sum(CAST(l.l_quantity AS BIGINT)), 0) AS BIGINT)
             AS v
    FROM part p LEFT JOIN lineitem l ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey),
  sr_e AS (
    SELECT s.node AS d, s.node // 10 AS a FROM sr_v s
    WHERE s.node >= 10
      AND EXISTS (SELECT 1 FROM sr_v x WHERE x.node = s.node // 10)),
  sr_c(d, a) AS (
    SELECT d, a FROM sr_e
    UNION
    SELECT c.d, e.a FROM sr_c c JOIN sr_e e ON c.a = e.d),
  sr_p AS (
    SELECT d, a FROM sr_c
    UNION ALL
    SELECT node, node FROM sr_v)
  SELECT pa.a AS node, CAST(sum(v.v) AS BIGINT) AS subtree_sum,
         CAST(count(*) AS BIGINT) AS subtree_nodes
  FROM sr_p pa JOIN sr_v v ON v.node = pa.d
  GROUP BY pa.a""",
        # Grid DBSCAN: quadratic neighborhoods + recursive min-label
        # reachability over core-core edges; border = min neighboring
        # core's label; NULL cluster for noise.
        "density_clusters": """
  WITH RECURSIVE db_p AS (
    SELECT c_custkey AS id,
           CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|x'),
                1, 8) AS BIGINT) % 20000 AS x,
           CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|y'),
                1, 8) AS BIGINT) % 20000 AS y
    FROM customer),
  db_pairs AS (
    SELECT a.id AS ia, b.id AS ib FROM db_p a, db_p b
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= 640000),
  db_core AS (
    SELECT ia AS id FROM db_pairs GROUP BY ia HAVING count(*) >= 10),
  db_e AS (
    SELECT p.ia, p.ib FROM db_pairs p
    JOIN db_core ca ON ca.id = p.ia
    JOIN db_core cb ON cb.id = p.ib),
  db_r(id, lbl) AS (
    SELECT id, id FROM db_core
    UNION
    SELECT e.ib, r.lbl FROM db_r r JOIN db_e e ON e.ia = r.id),
  db_lbl AS (SELECT id, min(lbl) AS cluster_id FROM db_r GROUP BY id),
  db_border AS (
    SELECT p.ia AS id, min(l.cluster_id) AS cluster_id
    FROM db_pairs p
    JOIN db_lbl l ON l.id = p.ib
    WHERE p.ia NOT IN (SELECT id FROM db_core)
    GROUP BY p.ia)
  SELECT p.id,
         CASE WHEN c.id IS NOT NULL THEN 'core'
              WHEN b.id IS NOT NULL THEN 'border'
              ELSE 'noise' END AS role,
         coalesce(c2.cluster_id, b.cluster_id) AS cluster_id
  FROM db_p p
  LEFT JOIN db_core c ON c.id = p.id
  LEFT JOIN db_lbl c2 ON c2.id = p.id
  LEFT JOIN db_border b ON b.id = p.id""",
        # Random walks: generated unrolled replay (see _random_walks_sql).
        "random_walks": _random_walks_sql(4),
        # k-truss: generated unrolled replay (see _ktruss_sql).
        "ktruss": _ktruss_sql(3, 2),
        # Batch perceptron: generated unrolled replay (_perceptron_sql).
        "perceptron_train": _perceptron_sql(3),
        # Two-regressor Cramer OLS: HUGEINT mirrors DECIMAL(38,0); the
        # 3x3 determinants expand to the same triple products.
        "ols_multi2": """
  WITH om_f AS (SELECT o_orderpriority AS priority,
         CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
              AS HUGEINT) AS x1,
         CAST(o_custkey % 1000 AS HUGEINT) AS x2,
         CAST(floor(o_totalprice * 100 + 0.5) AS HUGEINT) AS y
       FROM orders),
  om_a AS (SELECT priority, CAST(count(*) AS HUGEINT) AS n0,
         sum(x1) AS s1, sum(x2) AS s2, sum(x1*x1) AS s11,
         sum(x1*x2) AS s12, sum(x2*x2) AS s22,
         sum(y) AS sy, sum(x1*y) AS s1y, sum(x2*y) AS s2y
       FROM om_f GROUP BY 1),
  om_d AS (SELECT priority, n0,
         CAST(n0*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
              + s2*(s1*s12 - s11*s2) AS DOUBLE) AS det,
         CAST(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
              + s2*(s1y*s12 - s11*s2y) AS DOUBLE) AS det0,
         CAST(n0*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
              + s2*(s1*s2y - s1y*s2) AS DOUBLE) AS det1,
         CAST(n0*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
              + sy*(s1*s12 - s11*s2) AS DOUBLE) AS det2
       FROM om_a)
  SELECT priority, CAST(n0 AS BIGINT) AS n,
         CASE WHEN det != 0 THEN det0 / det END AS intercept,
         CASE WHEN det != 0 THEN det1 / det END AS b1,
         CASE WHEN det != 0 THEN det2 / det END AS b2
  FROM om_d""",
        # Chi-square independence: integer contingency + marginals,
        # per-cell double contribution floored to the 2^30 grid,
        # integer cell sum.
        "chi_square": """
  WITH cq_c AS (SELECT lang, source, CAST(count(*) AS HUGEINT) AS o
                FROM documents GROUP BY 1, 2),
  cq_r AS (SELECT lang, sum(o) AS r FROM cq_c GROUP BY 1),
  cq_b AS (SELECT source, sum(o) AS c FROM cq_c GROUP BY 1),
  cq_t AS (SELECT sum(o) AS t,
                  CAST(count(DISTINCT lang) AS BIGINT) AS nr,
                  CAST(count(DISTINCT source) AS BIGINT) AS nc
           FROM cq_c),
  cq_g AS (SELECT CAST(floor(
             CAST(o*t - r*c AS DOUBLE) * CAST(o*t - r*c AS DOUBLE)
             / CAST(t*r*c AS DOUBLE) * 1073741824) AS HUGEINT) AS cg,
             t, nr, nc
           FROM cq_c JOIN cq_r USING (lang) JOIN cq_b USING (source)
           CROSS JOIN cq_t)
  SELECT CAST(t AS BIGINT) AS n, nr AS n_rows, nc AS n_cols,
         (nr - 1) * (nc - 1) AS dof,
         CAST(sum(cg) AS DOUBLE) / 1073741824.0 AS chi2
  FROM cq_g GROUP BY t, nr, nc""",
        # Theil-Sen: content-addressed 64-row sample, bounded all-pairs,
        # index medians (floor() on both engines — CAST rounds in
        # DuckDB, truncates in Spark, so floor is the shared form).
        "theil_sen": """
  WITH th_f AS (SELECT
         CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
              AS HUGEINT) AS x,
         CAST(floor(o_totalprice * 100 + 0.5) AS HUGEINT) AS y
       FROM orders),
  th_h AS (SELECT x, y,
                  md5(CAST(x AS VARCHAR) || '|' || CAST(y AS VARCHAR)) AS h
           FROM th_f),
  th_s AS (SELECT x, y, h FROM th_h ORDER BY h, x, y LIMIT 64),
  th_p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
           FROM th_s a JOIN th_s b
             ON (a.h < b.h OR (a.h = b.h AND (a.x < b.x
                 OR (a.x = b.x AND a.y < b.y))))
           WHERE a.x != b.x),
  th_sl AS (SELECT CAST(yb - ya AS DOUBLE) / CAST(xb - xa AS DOUBLE) AS s
            FROM th_p),
  th_m AS (SELECT list_sort(list(s)) AS arr, count(*) AS np FROM th_sl),
  th_sm AS (SELECT np,
              CASE WHEN len(arr) > 0 THEN
                (arr[CAST(floor((len(arr) + 1) / 2) AS INT)]
                 + arr[CAST(floor(len(arr) / 2 + 1) AS INT)]) / 2.0
              END AS slope
            FROM th_m),
  th_r AS (SELECT np, slope,
                  CAST(y AS DOUBLE) - slope * CAST(x AS DOUBLE) AS r
           FROM th_s CROSS JOIN th_sm),
  th_o AS (SELECT np, slope, count(*) AS nu, list_sort(list(r)) AS rs
           FROM th_r GROUP BY np, slope)
  SELECT CAST(nu AS BIGINT) AS n_used, CAST(np AS BIGINT) AS n_pairs,
         slope,
         CASE WHEN len(rs) > 0 THEN
           (rs[CAST(floor((len(rs) + 1) / 2) AS INT)]
            + rs[CAST(floor(len(rs) / 2 + 1) AS INT)]) / 2.0
         END AS intercept
  FROM th_o""",
        # Poisson bootstrap: identical md5-uniform draws against the
        # same fixed integer thresholds; exact-integer replica means.
        "bootstrap_ci": """
  WITH bc_f AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
                       CAST(floor(o_totalprice * 100 + 0.5)
                            AS HUGEINT) AS v
                FROM orders),
  bc_h AS (SELECT v, p,
                  md5(id || '|' || CAST(p AS VARCHAR) || '|boot') AS h
           FROM bc_f, unnest(generate_series(0, 31)) AS u(p)),
  bc_u AS (SELECT v, 2 * p AS b,
                  CAST('0x' || substr(h, 1, 15) AS BIGINT) AS u
           FROM bc_h
           UNION ALL
           SELECT v, 2 * p + 1,
                  CAST('0x' || substr(h, 17, 15) AS BIGINT)
           FROM bc_h),
  bc_w AS (SELECT b, v,
             CAST(u >= 424136118829305329 AS HUGEINT)
             + CAST(u >= 848272237658610659 AS HUGEINT)
             + CAST(u >= 1060340297073263324 AS HUGEINT)
             + CAST(u >= 1131029650211480879 AS HUGEINT)
             + CAST(u >= 1148701988496035267 AS HUGEINT)
             + CAST(u >= 1152236456152946145 AS HUGEINT)
             + CAST(u >= 1152825534095764625 AS HUGEINT)
             + CAST(u >= 1152909688087595836 AS HUGEINT) AS w
           FROM bc_u),
  bc_m AS (SELECT b, sum(w * v) AS swv, sum(w) AS sw
           FROM bc_w GROUP BY b HAVING sum(w) > 0),
  bc_mm AS (SELECT CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) AS m
            FROM bc_m),
  bc_p AS (SELECT list_sort(list(m)) AS ms, count(*) AS bu FROM bc_mm),
  bc_t AS (SELECT count(*) AS n, sum(v) AS sv FROM bc_f)
  SELECT CAST(n AS BIGINT) AS n_rows, CAST(bu AS BIGINT) AS n_boot_used,
         CASE WHEN n > 0
              THEN CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) END AS mean,
         CASE WHEN bu > 0 THEN ms[CAST(floor(
              CAST(bu - 1 AS DOUBLE) * 25 / 1000) AS INT) + 1]
         END AS ci_lo,
         CASE WHEN bu > 0 THEN ms[CAST(floor(
              CAST(bu - 1 AS DOUBLE) * 975 / 1000) AS INT) + 1]
         END AS ci_hi
  FROM bc_p CROSS JOIN bc_t""",
        # Exact Spearman: doubled midranks (integer) via window prefix,
        # then the exact_corr HUGEINT moment formula.
        "spearman_rho": """
  WITH sp_f AS (SELECT
         CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
              AS HUGEINT) AS x,
         CAST(floor(o_totalprice * 100 + 0.5) AS HUGEINT) AS y
       FROM orders),
  sp_xv AS (SELECT x, CAST(count(*) AS HUGEINT) AS c FROM sp_f GROUP BY 1),
  sp_xr AS (SELECT x, 2 * (sum(c) OVER (ORDER BY x
                 ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS u
            FROM sp_xv),
  sp_yv AS (SELECT y, CAST(count(*) AS HUGEINT) AS c FROM sp_f GROUP BY 1),
  sp_yr AS (SELECT y, 2 * (sum(c) OVER (ORDER BY y
                 ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS v
            FROM sp_yv),
  sp_r AS (SELECT u, v FROM sp_f
           JOIN sp_xr USING (x) JOIN sp_yr USING (y)),
  sp_a AS (SELECT CAST(count(*) AS HUGEINT) AS n0,
                  sum(u) AS su, sum(v) AS sv,
                  sum(u*u) AS suu, sum(v*v) AS svv, sum(u*v) AS suv
           FROM sp_r)
  SELECT CAST(n0 AS BIGINT) AS n,
         CASE WHEN CAST(n0*suu - su*su AS DOUBLE) > 0
               AND CAST(n0*svv - sv*sv AS DOUBLE) > 0
              THEN CAST(n0*suv - su*sv AS DOUBLE)
                   / (sqrt(CAST(n0*suu - su*su AS DOUBLE))
                      * sqrt(CAST(n0*svv - sv*sv AS DOUBLE)))
         END AS rho
  FROM sp_a""",
        # Deterministic one-shot Misra-Gries merge: exact (key,item)
        # counts minus the (capacity+1)-th largest count per key
        # (capacity=8 → the 9th), keep the strictly-positive residuals.
        "heavy_hitters_mg": """
  WITH hh_c AS (SELECT event_type,
                       CAST(user_id % 97 AS VARCHAR) AS item,
                       CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
  hh_t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events
           FROM hh_c GROUP BY 1),
  hh_r AS (SELECT event_type, item, c,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY c DESC, item) AS rn
           FROM hh_c),
  hh_k AS (SELECT event_type,
                  COALESCE(MAX(CASE WHEN rn = 9 THEN c END), 0) AS ck1
           FROM hh_r GROUP BY 1)
  SELECT r.event_type, r.item,
         CAST(r.c - k.ck1 AS BIGINT) AS mg_count,
         t.n_events
  FROM hh_r r
  JOIN hh_k k USING (event_type)
  JOIN hh_t t USING (event_type)
  WHERE r.rn <= 8 AND r.c - k.ck1 > 0""",
        # Exact two-sample KS: integer max CDF gap, one division.
        "ks_two_sample": """
  WITH ks_f AS (SELECT value AS v,
                       CAST(event_type = 'click' AS HUGEINT) AS a,
                       CAST(event_type = 'view' AS HUGEINT) AS b
                FROM events
                WHERE event_type IN ('click', 'view')
                  AND value IS NOT NULL),
  ks_v AS (SELECT v, sum(a) AS ca, sum(b) AS cb FROM ks_f GROUP BY 1),
  ks_c AS (SELECT v, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb
           FROM ks_v
           WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
  ks_t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM ks_v)
  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
         CASE WHEN na > 0 AND nb > 0
              THEN CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
                   / CAST(na * nb AS DOUBLE) END AS d
  FROM ks_c CROSS JOIN ks_t GROUP BY na, nb""",
        # Exact Mann-Whitney U: doubled midrank sum stays integer;
        # fixed-order tie-corrected z at the end.
        "mann_whitney": """
  WITH mw_f AS (SELECT value AS v,
                       CAST(event_type = 'click' AS HUGEINT) AS a,
                       CAST(event_type = 'view' AS HUGEINT) AS b
                FROM events
                WHERE event_type IN ('click', 'view')
                  AND value IS NOT NULL),
  mw_v AS (SELECT v, sum(a) AS ca, sum(b) AS cb,
                  sum(a) + sum(b) AS ct
           FROM mw_f GROUP BY 1),
  mw_c AS (SELECT v, ca, cb, ct, sum(ct) OVER w AS cumt
           FROM mw_v
           WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
  mw_a AS (SELECT sum(ca) AS na, sum(cb) AS nb,
                  sum(ca * (2 * (cumt - ct) + ct + 1)) AS r2a,
                  sum(ct * ct * ct - ct) AS ties
           FROM mw_c)
  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
         CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_a,
         CASE WHEN na > 0 AND nb > 0 AND
                   CAST(na * nb AS DOUBLE) / 12.0
                   * (CAST(na + nb + 1 AS DOUBLE)
                      - CAST(ties AS DOUBLE)
                        / CAST((na + nb) * (na + nb - 1) AS DOUBLE)) > 0
              THEN (CAST(r2a - na * (na + 1) AS DOUBLE)
                    - CAST(na * nb AS DOUBLE))
                   / (2.0 * sqrt(CAST(na * nb AS DOUBLE) / 12.0
                      * (CAST(na + nb + 1 AS DOUBLE)
                         - CAST(ties AS DOUBLE)
                           / CAST((na + nb) * (na + nb - 1) AS DOUBLE))))
         END AS z
  FROM mw_a""",
        # One-way ANOVA F: exact per-group moments, HUGEINT floor
        # division mirrors the engine's decimal (a - a%b)/b.
        "anova_f": """
  WITH af_g AS (SELECT source, CAST(count(*) AS HUGEINT) AS ng,
                       CAST(sum(n_chars) AS HUGEINT) AS sg,
                       CAST(sum(n_chars*n_chars) AS HUGEINT) AS sxx
                FROM documents GROUP BY 1),
  af_t AS (SELECT CAST(count(*) AS BIGINT) AS k, sum(ng) AS n,
                  sum(sg) AS s, sum(sxx) AS xx,
                  sum((sg*sg*1048576) // ng) AS t
           FROM af_g),
  af_s AS (SELECT k, n,
                  CAST(xx*1048576 - t AS DOUBLE) AS ssw_g,
                  CAST(t - (s*s*1048576) // n AS DOUBLE) AS ssb_g
           FROM af_t)
  SELECT k, CAST(n AS BIGINT) AS n,
         ssb_g / 1048576.0 AS ssb, ssw_g / 1048576.0 AS ssw,
         CASE WHEN k >= 2 AND CAST(n AS BIGINT) > k AND ssw_g > 0
              THEN (ssb_g / (CAST(k AS DOUBLE) - 1.0))
                   / (ssw_g / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
         END AS f
  FROM af_s""",
        # Dictionary phrase matching: same offset-aligned count==len
        # construction; phrase table inlined as VALUES.
        "dictionary_phrases": f"""
  WITH dp_ph(phrase_id, phrase) AS (VALUES
      (CAST(1 AS BIGINT), 'key agg row'), (2, 'table value'),
      (3, 'fast table'), (4, 'a a the'), (5, 'sort sort sort')),
  dp_pt AS (
    SELECT phrase_id AS pid, u.i - 1 AS off, toks[u.i] AS tok
    FROM (SELECT phrase_id,
                 string_split_regex(trim(phrase), '\\s+') AS toks
          FROM dp_ph),
         unnest(generate_series(1, len(toks))) AS u(i)
    WHERE length(toks[u.i]) > 0),
  dp_len AS (SELECT pid, CAST(count(*) AS BIGINT) AS plen
             FROM dp_pt GROUP BY pid),
  dp_dt AS (
    SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS tok
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
          WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         unnest(generate_series(1, len(toks))) AS u(i)
    WHERE length(toks[u.i]) > 0),
  dp_cand AS (
    SELECT d.doc_id, p.pid, d.pos - p.off AS start,
           CAST(count(*) AS BIGINT) AS hit
    FROM dp_dt d JOIN dp_pt p ON p.tok = d.tok
    GROUP BY 1, 2, 3)
  SELECT c.doc_id, c.pid AS phrase_id,
         CAST(count(*) AS BIGINT) AS n_matches,
         CAST(min(c.start) + 1 AS BIGINT) AS first_pos
  FROM dp_cand c JOIN dp_len l ON l.pid = c.pid
  WHERE c.hit = l.plen AND c.start >= 0
  GROUP BY c.doc_id, c.pid""",
        # Greedy set cover: generated unrolled replay (_set_cover_sql).
        "set_cover": _set_cover_sql(8),
        # MMR: generated unrolled replay (see _mmr_sql).
        "mmr_rerank": _mmr_sql(10, 7, 64),
        # Gini: same deterministic row_number ranks, HUGEINT sums
        # (integer-equal to the engine's DECIMAL(38,0)), same fixed
        # double expression.
        "gini": """
  WITH gi_k AS (
    SELECT o_orderpriority AS g,
           CAST(floor(o_totalprice * 1048576.0) AS BIGINT) AS xg,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS i
    FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0),
  gi_e AS (
    SELECT o_orderpriority AS g,
           CAST(count(*) - count(CASE WHEN o_totalprice >= 0 THEN 1 END)
                AS BIGINT) AS n_excluded
    FROM orders GROUP BY 1),
  gi_a AS (
    SELECT g, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(xg AS HUGEINT)) AS sx,
           sum(CAST(i AS HUGEINT) * CAST(xg AS HUGEINT)) AS six
    FROM gi_k GROUP BY g)
  SELECT a.g AS o_orderpriority,
         CASE WHEN sx > 0 THEN
           (2.0 * CAST(six AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
           - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)
         END AS gini,
         n, CAST(sx AS DOUBLE) / 1048576.0 AS total, e.n_excluded
  FROM gi_a a JOIN gi_e e ON e.g = a.g""",
        # Top-k + OTHER rollup: same cents grid, row_number ranking,
        # tail collapse.
        "topk_others": """
  WITH tko_s AS (
    SELECT o_orderpriority AS g, o_custkey AS k,
           CAST(sum(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS t
    FROM orders WHERE o_orderpriority IS NOT NULL
    GROUP BY 1, 2),
  tko_r AS (
    SELECT g, k, t,
           row_number() OVER (PARTITION BY g ORDER BY t DESC, k ASC) AS r
    FROM tko_s),
  tko_l AS (
    SELECT g,
           CASE WHEN r <= 5 THEN CAST(k AS VARCHAR) ELSE 'OTHER' END
             AS label,
           CAST(CASE WHEN r <= 5 THEN r ELSE 6 END AS BIGINT) AS rank,
           t
    FROM tko_r)
  SELECT g AS o_orderpriority, label, rank,
         CAST(sum(t) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM tko_l GROUP BY g, label, rank""",
        # Gopher quality rules: each measure is integer counting + one
        # double division, same op order as datapipe/text.gopher_quality
        # (min_words=20 corpus override, all other thresholds published
        # defaults).
        "gopher_quality": f"""
  WITH gq AS (SELECT doc_id, text, {_TOKS} AS toks,
                     string_split(text, chr(10)) AS lines
              FROM documents),
  gm AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum')
                AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_word_len,
           (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
            + CAST((length(text) - length(replace(text, '...', ''))) / 3
                   AS DOUBLE))
             / CAST(len(toks) AS DOUBLE) AS symbol_ratio,
           CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
                AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS alpha_word_frac,
           CAST(len(list_filter(
                  ['the','be','to','of','and','that','have','with'],
                  w -> list_contains(toks, w))) AS BIGINT) AS stop_hits,
           CAST(len(list_filter(lines, ln ->
                  starts_with(ln, '- ') OR starts_with(ln, '* ')
                  OR starts_with(ln, '•'))) AS DOUBLE)
             / CAST(len(lines) AS DOUBLE) AS bullet_line_frac,
           CAST(len(list_filter(lines, ln -> ends_with(ln, '...')))
                AS DOUBLE) / CAST(len(lines) AS DOUBLE) AS ellipsis_line_frac,
           CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
             / CAST(len(lines) AS DOUBLE) AS dup_line_frac
        FROM gq)
  SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
         stop_hits, dup_line_frac,
         CAST(n_words BETWEEN 20 AND 100000
              AND mean_word_len BETWEEN 3.0 AND 10.0
              AND symbol_ratio <= 0.1
              AND alpha_word_frac >= 0.8
              AND stop_hits >= 2
              AND bullet_line_frac <= 0.9
              AND ellipsis_line_frac <= 0.3
              AND dup_line_frac <= 0.3 AS INT) AS gopher_pass
  FROM gm""",
        # URL canonicalization + dedup: the same deterministic URL synth
        # (CASE on doc_id), then the regexp chain in the SAME order as
        # datapipe/web.url_canonical ('g' where Spark replaces all).
        "url_dedup": """
  WITH uraw AS (SELECT doc_id,
           (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.'
                 WHEN doc_id % 4 = 1 THEN 'https://'
                 WHEN doc_id % 4 = 2 THEN 'http://www.'
                 ELSE '' END)
           || 'ex' || CAST(doc_id % 20 AS VARCHAR)
           || '.Example.COM/Docs/Page-' || CAST(doc_id % 50 AS VARCHAR)
           || (CASE WHEN doc_id % 3 = 0
                      THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
                    WHEN doc_id % 3 = 1 THEN '/'
                    ELSE '#frag' END) AS url
        FROM documents),
  u1 AS (SELECT doc_id, url,
                regexp_replace(trim(url), '(?i)^[a-z][a-z0-9+.-]*://', '')
                  AS ns
         FROM uraw),
  u2 AS (SELECT doc_id, url, ns,
                regexp_replace(lower(regexp_extract(ns, '^([^/?#]+)', 1)),
                               '^www\\.', '') AS host,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(
                            regexp_replace(ns, '^[^/?#]+', ''),
                            '#.*$', ''),
                          '([?&])(utm_[a-z]+|gclid|fbclid|msclkid|ref)=[^&#]*',
                          '\\1', 'g'),
                        '&&+', '&', 'g'),
                      '\\?&+', '?', 'g'),
                    '[?&]+$', ''),
                  '/+$', '') AS rest
         FROM u1),
  canon AS (SELECT doc_id, host, host || rest AS url_canon FROM u2),
  keep AS (SELECT url_canon, MIN(doc_id) AS k FROM canon GROUP BY 1)
  SELECT c.doc_id, c.url_canon, c.host
  FROM canon c JOIN keep ON c.url_canon = keep.url_canon AND c.doc_id = keep.k""",
        # Cross-corpus near-dup decontamination: side-prefixed MinHash
        # CTEs, cross-side-only band join, distinct-token Jaccard verify
        # (mirrors contamination.cross_corpus_overlap).
        "cross_decontamination": _cross_decon_sql(),
        # KMV distinct sketch: k smallest md5 hashes of distinct values
        # per group; estimate (k-1)/h_(k) with h_(k) normalized over the
        # 60-bit prefix grid (stats.kmv_distinct, k=64).
        "kmv_distinct": """
  WITH kvh AS (SELECT DISTINCT o_orderpriority AS g,
                      md5(CAST(o_custkey AS VARCHAR)) AS h
               FROM orders WHERE md5(CAST(o_custkey AS VARCHAR)) IS NOT NULL),
  kvr AS (SELECT g, h,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS r
          FROM kvh),
  kvt AS (SELECT g, h, r FROM kvr WHERE r <= 64)
  SELECT g AS o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
              ELSE 63.0 / (CAST('0x' || substr(max_by(h, r), 1, 15)
                                AS BIGINT) / 1152921504606846976.0) END
           AS est_distinct
  FROM kvt GROUP BY g""",
        # HyperLogLog p=9: register = low 9 bits of the 60-bit md5
        # prefix, rho = leading-zero rank of the 51-bit tail via
        # length(bin(w)) (both engines print binary without leading
        # zeros); harmonic sum exact in BIGINT (2^(52-rho)); the
        # alpha_512 literal and the single double expression mirror
        # sketches.hll_estimate op-for-op.
        "hll_distinct": """
  WITH hh AS (SELECT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)
                                             || '#0'), 1, 15) AS BIGINT) AS h,
                     o_orderkey % 2 AS par
              FROM orders WHERE o_custkey IS NOT NULL),
  hr AS (SELECT par, CAST(h % 512 AS INT) AS reg_idx, h // 512 AS w FROM hh),
  hrho AS (SELECT par, reg_idx,
                  CASE WHEN w = 0 THEN 52
                       ELSE 51 - length(bin(w)) + 1 END AS rho
           FROM hr),
  hreg AS (SELECT reg_idx, MAX(rho) AS rho FROM hrho GROUP BY 1),
  hpreg AS (SELECT par, reg_idx, MAX(rho) AS rho FROM hrho GROUP BY 1, 2),
  hmreg AS (SELECT reg_idx, MAX(rho) AS rho FROM hpreg GROUP BY 1),
  hden AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(1::BIGINT << CAST(52 - rho AS INT)) AS s
           FROM hreg),
  hmden AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(1::BIGINT << CAST(52 - rho AS INT)) AS s
            FROM hmreg),
  htrue AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
              AS true_distinct FROM orders)
  SELECT d.n AS n_regs,
         CAST(0.7197831133217303e0 AS DOUBLE) * CAST(262144 AS DOUBLE)
           * CAST(4503599627370496 AS DOUBLE)
           / CAST(COALESCE(d.s, 0) + (512 - d.n)
                  * (1::BIGINT << 52) AS DOUBLE) AS est_direct,
         CAST(0.7197831133217303e0 AS DOUBLE) * CAST(262144 AS DOUBLE)
           * CAST(4503599627370496 AS DOUBLE)
           / CAST(COALESCE(m.s, 0) + (512 - m.n)
                  * (1::BIGINT << 52) AS DOUBLE) AS est_merged,
         t.true_distinct
  FROM hden d, hmden m, htrue t""",
        # Priority sampling: q = w * 2^60 / (h+1), identical two-op
        # double chain, top-16 per group (sampling.weighted_sample).
        "weighted_sample": """
  WITH ws_b AS (SELECT l_returnflag,
                       l_orderkey * 16 + l_linenumber AS rid,
                       CAST(l_quantity AS DOUBLE) AS qty
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_quantity > 0),
  ws_q AS (SELECT l_returnflag, rid, qty,
                  qty * CAST(1152921504606846976 AS DOUBLE)
                    / CAST(CAST('0x' || substr(md5(CAST(rid AS VARCHAR)
                                                   || '|'), 1, 15)
                                AS BIGINT) + 1 AS DOUBLE) AS q
           FROM ws_b)
  SELECT l_returnflag, rid, qty FROM ws_q
  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag
                             ORDER BY q DESC, rid ASC) <= 16""",
        # Grouped HLL: one register set per event_type, same md5/bin
        # arithmetic and alpha literal as hll_distinct.
        "hll_group_distinct": """
  WITH gh AS (SELECT event_type AS g,
                     CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                                             || '#0'), 1, 15) AS BIGINT) AS h
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
  gr AS (SELECT g, CAST(h % 512 AS INT) AS reg_idx, h // 512 AS w FROM gh),
  greg AS (SELECT g, reg_idx,
                  MAX(CASE WHEN w = 0 THEN 52
                           ELSE 51 - length(bin(w)) + 1 END) AS rho
           FROM gr GROUP BY 1, 2),
  gden AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(1::BIGINT << CAST(52 - rho AS INT)) AS s
           FROM greg GROUP BY 1),
  gtru AS (SELECT event_type AS g,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
           FROM events WHERE event_type IS NOT NULL GROUP BY 1)
  SELECT d.g AS event_type, d.n AS n_regs,
         CAST(0.7197831133217303e0 AS DOUBLE) * CAST(262144 AS DOUBLE)
           * CAST(4503599627370496 AS DOUBLE)
           / CAST(COALESCE(d.s, 0) + (512 - d.n)
                  * (1::BIGINT << 52) AS DOUBLE) AS est_distinct,
         t.true_distinct
  FROM gden d JOIN gtru t ON d.g = t.g""",
        # Sweep-line peak concurrency: -1 sorts before +1 at equal
        # time (half-open intervals), peak ties resolve to earliest t.
        "max_concurrency": """
  WITH mc_i AS (SELECT event_type AS k, ts,
                       ts + (event_id % 3600 + 60)
                            * INTERVAL 1 SECOND AS end_ts
                FROM events WHERE ts IS NOT NULL),
  mc_d AS (
    SELECT k, ts AS t, 1 AS d FROM mc_i WHERE end_ts > ts
    UNION ALL
    SELECT k, end_ts, -1 FROM mc_i WHERE end_ts > ts),
  mc_r AS (SELECT k, t,
                  CAST(SUM(d) OVER (PARTITION BY k ORDER BY t, d
                       ROWS UNBOUNDED PRECEDING) AS INT) AS run
           FROM mc_d),
  mc_p AS (SELECT k, MAX(run) AS peak FROM mc_r GROUP BY 1)
  SELECT r.k AS event_type, p.peak,
         strftime(MIN(r.t), '%Y-%m-%d %H:%M:%S') AS peak_at
  FROM mc_r r JOIN mc_p p ON r.k = p.k AND r.run = p.peak
  GROUP BY 1, 2""",
        # AMS/CMS inner-product join-size estimate: per depth row the
        # cell-product sum, min over rows; true pairs from exact
        # per-key count products (sketches.cms_join_size).
        "cms_join_size": """
  WITH salts(i) AS (VALUES (0), (1), (2), (3)),
  jva AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events
          WHERE user_id IS NOT NULL),
  jca AS (SELECT s.i AS row_idx,
                 CAST('0x' || substr(md5(c.v || '#' || CAST(s.i AS VARCHAR)),
                                     1, 15) AS BIGINT) % 512 AS col_idx,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM jva c, salts s GROUP BY 1, 2),
  jvb AS (SELECT CAST(o_custkey AS VARCHAR) AS v FROM orders
          WHERE o_custkey IS NOT NULL),
  jcb AS (SELECT s.i AS row_idx,
                 CAST('0x' || substr(md5(c.v || '#' || CAST(s.i AS VARCHAR)),
                                     1, 15) AS BIGINT) % 512 AS col_idx,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM jvb c, salts s GROUP BY 1, 2),
  jip AS (SELECT a.row_idx,
                 SUM(CAST(a.cnt * b.cnt AS HUGEINT)) AS ip
          FROM jca a JOIN jcb b
            ON a.row_idx = b.row_idx AND a.col_idx = b.col_idx
          GROUP BY 1),
  jest AS (SELECT CAST(MIN(COALESCE(p.ip, 0)) AS BIGINT) AS est_pairs
           FROM salts s LEFT JOIN jip p ON s.i = p.row_idx),
  jtru AS (SELECT CAST(COALESCE(SUM(CAST(a.na * b.nb AS HUGEINT)), 0)
                       AS BIGINT) AS true_pairs
           FROM (SELECT user_id AS k, COUNT(*) AS na FROM events
                 WHERE user_id IS NOT NULL GROUP BY 1) a
           JOIN (SELECT o_custkey AS k, COUNT(*) AS nb FROM orders
                 WHERE o_custkey IS NOT NULL GROUP BY 1) b
             ON a.k = b.k)
  SELECT e.est_pairs, t.true_pairs FROM jest e, jtru t""",
        # Fixed-3-iteration PageRank over the co-purchase graph —
        # unrolled CTEs, 2^-40 grid sums (graph.pagerank).
        "pagerank": _pagerank_sql(3),
        # Synchronous label propagation, same graph, 3 unrolled rounds
        # (graph.label_propagation).
        "label_propagation": _labelprop_sql(3),
        # Personalized variant: teleport restricted to node % 50 = 0
        # seeds, denominator |S| (graph.pagerank with seeds).
        "personalized_pagerank": _pagerank_sql(3, seed_pred="node % 50 = 0"),
        # PC1 power iteration: unrolled grid-exact matrix-vector
        # rounds over the mirrored covariance (similarity
        # .pca_project_pc1).
        "pca_pc1": _pca_sql(8),
        # Embedding covariance: dim self-join on vec_id, 2^-40 grid
        # HUGEINT sums, (S/G)/n - mu_i*mu_j fixed op order
        # (similarity.embedding_covariance).
        "embedding_covariance": _cov_sql(),
        # Tokenize-and-pack e2e: BPE training CTEs + per-doc word-join
        # re-tokenization + offset layout + 32-token chunks with
        # order-pinned fingerprints (tokenizer.bpe_train/bpe_segment_join
        # + chunking).
        "bpe_tokenize_pack": _bpe_pack_sql(6, 32),
        # Train on even doc_ids, segment the odd half — proves the
        # learned merges generalize via the same fold, not memorization.
        "bpe_segment_holdout": _bpe_holdout_sql(6),
        # Rendezvous sharding: per-(doc, shard) md5 argmax; the padded
        # composite key mirrors Spark's (hash, shard) struct order
        # (sampling.rendezvous_shard, n=8 then n=9).
        "rendezvous_shard": """
  WITH rv_s AS (SELECT d.doc_id, u.s,
                       md5(CAST(d.doc_id AS VARCHAR) || '|#'
                           || CAST(u.s AS VARCHAR)) AS h
                FROM documents d, UNNEST(range(0, 9)) AS u(s)),
  rv_a AS (SELECT doc_id,
                  max_by(s, h || lpad(CAST(s AS VARCHAR), 2, '0'))
                    FILTER (WHERE s < 8) AS shard8,
                  max_by(s, h || lpad(CAST(s AS VARCHAR), 2, '0'))
                    AS shard9
           FROM rv_s GROUP BY 1)
  SELECT doc_id, CAST(shard8 AS INT) AS shard8,
         CAST(shard9 AS INT) AS shard9,
         shard8 <> shard9 AS moved
  FROM rv_a""",
        # Bloom membership: 4 salted 60-bit md5 positions mod 4096,
        # 62-bit words (1<<63 overflows DuckDB BIGINT), bit_or build,
        # min-over-hashes probe (sketches.bloom_build/bloom_probe).
        "bloom_blocklist": """
  WITH salts(i) AS (VALUES (0), (1), (2), (3)),
  bmem AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v
           FROM customer WHERE c_acctbal < 0),
  bpos AS (SELECT CAST('0x' || substr(md5(m.v || '#' || CAST(s.i AS VARCHAR)),
                                      1, 15) AS BIGINT) % 4096 AS p
           FROM bmem m, salts s),
  bwords AS (SELECT p // 62 AS word_idx,
                    bit_or(1::BIGINT << CAST(p % 62 AS INT)) AS word
             FROM bpos GROUP BY 1),
  pvals AS (SELECT DISTINCT o_custkey,
                   CAST(o_custkey AS VARCHAR) AS v FROM orders),
  ppos AS (SELECT p.o_custkey,
                  CAST('0x' || substr(md5(p.v || '#' || CAST(s.i AS VARCHAR)),
                                      1, 15) AS BIGINT) % 4096 AS h
           FROM pvals p, salts s),
  phit AS (SELECT o_custkey,
                  CASE WHEN ((COALESCE(w.word, 0) >> CAST(h % 62 AS INT))
                             & 1) = 1 THEN 1 ELSE 0 END AS hit
           FROM ppos LEFT JOIN bwords w ON h // 62 = w.word_idx)
  SELECT o_custkey, MIN(hit) = 1 AS maybe_blocked
  FROM phit GROUP BY o_custkey""",
        # BPE training: unrolled rounds, recursive-CTE greedy fold
        # (tokenizer.bpe_train).
        "bpe_train": _bpe_sql(6),
        # Impute + winsorize: per-type median fill then [p05, p95]
        # clip, both on the cents half-integer grid where quantile
        # interpolation is engine-exact (stats.impute_missing /
        # winsorize_clip).
        "impute_winsorize": """
  WITH iw_v AS (SELECT event_id, event_type,
                       CASE WHEN event_id % 19 <> 0 THEN
                         CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                              AS DOUBLE) END AS cents
                FROM events),
  iw_m AS (SELECT event_type, quantile_cont(cents, 0.5) AS fill
           FROM iw_v GROUP BY 1),
  iw_f AS (SELECT v.event_id, v.event_type,
                  COALESCE(v.cents, m.fill) AS cents_filled
           FROM iw_v v JOIN iw_m m ON v.event_type = m.event_type),
  iw_b AS (SELECT event_type,
                  quantile_cont(cents_filled, 0.05) AS lo,
                  quantile_cont(cents_filled, 0.95) AS hi
           FROM iw_f GROUP BY 1)
  SELECT f.event_id, f.event_type, f.cents_filled,
         LEAST(GREATEST(f.cents_filled, b.lo), b.hi) AS cents_clipped
  FROM iw_f f JOIN iw_b b ON f.event_type = b.event_type""",
        # KMV Jaccard: per-side k-smallest md5 sketches, union top-k,
        # shared-hash count / k (stats.kmv_jaccard).
        "kmv_jaccard": """
  WITH kj_a AS (SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS h
                FROM orders WHERE o_orderpriority = '1-URGENT'
                  AND md5(CAST(o_custkey AS VARCHAR)) IS NOT NULL),
  kj_ar AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r
                           FROM kj_a) WHERE r <= 256),
  kj_b AS (SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS h
           FROM orders WHERE o_orderpriority = '5-LOW'
             AND md5(CAST(o_custkey AS VARCHAR)) IS NOT NULL),
  kj_br AS (SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r
                           FROM kj_b) WHERE r <= 256),
  kj_m AS (SELECT COALESCE(a.h, b.h) AS h,
                  CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END AS ia,
                  CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS ib
           FROM kj_ar a FULL OUTER JOIN kj_br b ON a.h = b.h),
  kj_t AS (SELECT ia, ib FROM (SELECT ia, ib,
                                      ROW_NUMBER() OVER (ORDER BY h) AS r
                               FROM kj_m) WHERE r <= 256)
  SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
         CAST(SUM(ia * ib) AS BIGINT) AS n_both,
         CAST(SUM(ia * ib) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS jaccard_est
  FROM kj_t""",
        # Row-level contract gate: list of violated row-local
        # constraint labels per row (quality.contract_gate).
        # Per-constraint violator branches, union, md5(row_id) top-5
        # per (constraint, column) — quality.constraint_offenders.
        "constraint_offenders": """
  WITH co_dupk AS (SELECT o_custkey FROM orders
                   WHERE o_custkey IS NOT NULL
                   GROUP BY 1 HAVING COUNT(*) > 1),
  co_all AS (
    SELECT 'range' AS "constraint", 'o_totalprice' AS "column",
           CAST(o_orderkey AS VARCHAR) AS row_id,
           CAST(o_totalprice AS VARCHAR) AS value
    FROM orders WHERE o_totalprice IS NOT NULL
      AND (o_totalprice < 1000.0 OR o_totalprice > 150000.0)
    UNION ALL
    SELECT 'accepted', 'o_orderstatus', CAST(o_orderkey AS VARCHAR),
           o_orderstatus
    FROM orders WHERE o_orderstatus IS NOT NULL
      AND o_orderstatus NOT IN ('O', 'F')
    UNION ALL
    SELECT 'regexp', 'o_orderpriority', CAST(o_orderkey AS VARCHAR),
           o_orderpriority
    FROM orders WHERE o_orderpriority IS NOT NULL
      AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
    UNION ALL
    SELECT 'unique', 'o_custkey', CAST(o_orderkey AS VARCHAR),
           CAST(o_custkey AS VARCHAR)
    FROM orders WHERE o_custkey IN (SELECT o_custkey FROM co_dupk)
    UNION ALL
    SELECT 'fk', 'o_custkey', CAST(o_orderkey AS VARCHAR),
           CAST(o_custkey AS VARCHAR)
    FROM orders o WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey % 7 <> 0
                        AND c.c_custkey = o.o_custkey))
  SELECT "constraint", "column", row_id, value FROM co_all
  QUALIFY ROW_NUMBER() OVER (PARTITION BY "constraint", "column"
                             ORDER BY md5(row_id), row_id) <= 5""",
        "contract_gate": """
  SELECT o_orderkey,
         COALESCE(array_to_string(list_sort(violated), ','), '')
           AS violated,
         CAST(len(violated) AS INT) AS n_violated
  FROM (SELECT o_orderkey,
               list_filter([
                 CASE WHEN o_custkey IS NULL
                      THEN 'not_null:o_custkey' END,
                 CASE WHEN o_totalprice IS NOT NULL
                       AND (o_totalprice < 1000.0
                            OR o_totalprice > 500000.0)
                      THEN 'range:o_totalprice' END,
                 CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O', 'F')
                      THEN 'accepted:o_orderstatus' END,
                 CASE WHEN o_orderpriority IS NOT NULL
                       AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
                      THEN 'regexp:o_orderpriority' END
               ], x -> x IS NOT NULL) AS violated
        FROM orders)""",
        # Incremental agg-state merge: the oracle aggregates the FULL
        # input directly — a green row proves the batch-split merge
        # equals the re-run (operators/aggregates.merge_agg_states).
        "agg_state_merge": """
  SELECT o_orderpriority,
         CAST(SUM(CAST(CAST(floor(o_totalprice * 100.0 + 0.5)
                            AS BIGINT) AS HUGEINT)) AS BIGINT)
           AS total_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1""",
        # Seasonal anomalies: grid-exact hour-of-day baselines, 2x
        # threshold (timeseries.seasonal_anomalies).
        "seasonal_anomalies": """
  WITH sa_b AS (SELECT event_type, CAST(hour(ts) AS INT) AS season_bucket,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(CAST(floor(value * 1099511627776.0)
                                AS HUGEINT)) AS s
                FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
                GROUP BY 1, 2),
  sa_m AS (SELECT event_type, season_bucket,
                  (CAST(s AS DOUBLE) / 1099511627776.0)
                  / CAST(n AS DOUBLE) AS baseline
           FROM sa_b)
  SELECT e.event_id, e.event_type,
         CAST(hour(e.ts) AS INT) AS season_bucket,
         e.value, m.baseline, e.value / m.baseline AS ratio
  FROM events e JOIN sa_m m
    ON e.event_type = m.event_type
   AND CAST(hour(e.ts) AS INT) = m.season_bucket
  WHERE e.value IS NOT NULL AND e.ts IS NOT NULL
    AND e.value > 2.0e0 * m.baseline""",
        # Per-window log histogram: hour windows (exact epoch-hour
        # trunc) x bit-length buckets (operators/aggregates
        # .windowed_loghist).
        "stream_loghist_batch": """
  WITH sl_b AS (SELECT date_trunc('hour', ts) AS h,
                       CAST(floor(value) AS BIGINT) AS v
                FROM events),
  sl_s AS (SELECT h,
                  CASE WHEN v = 0 THEN 0
                       ELSE CAST(length(bin(v)) AS INT) END AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM sl_b WHERE v IS NOT NULL AND v >= 0 GROUP BY 1, 2)
  SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS window_start, bucket, cnt
  FROM sl_s""",
        # Containment join: contained-side prefix vs full index,
        # inter*den >= num*size_a acceptance (ssjoin
        # .containment_join_exact, t = 9/10, 3-shingles).
        "containment_join": "WITH " + _containment_ctes() + """
  SELECT id_a, id_b, inter, size_a, size_b,
         CAST(inter AS DOUBLE) / CAST(size_a AS DOUBLE) AS containment
  FROM cj_i
  WHERE inter * 10 >= 9 * size_a""",
        # Containment DEDUP action: drop docs contained in a larger
        # one (ties keep the smaller id) — survivors via NOT EXISTS
        # (ssjoin.containment_dedup).
        "containment_dedup": "WITH " + _containment_ctes() + """,
  cd_dp AS (SELECT DISTINCT id_a FROM cj_i
            WHERE inter * 10 >= 9 * size_a
              AND (size_a < size_b
                   OR (size_a = size_b AND id_a > id_b)))
  SELECT d.doc_id, d.source
  FROM documents d
  WHERE NOT EXISTS (SELECT 1 FROM cd_dp x WHERE x.id_a = d.doc_id)""",
        # Coverage-preserving containment dedup: per-round safe-drop
        # CTEs unrolled to the Spark side's max_rounds.
        "containment_dedup_fix": _containment_fix_sql(rounds=3),
        # SCD-2 intervals: one LEAD/ROW_NUMBER window per key with the
        # orderkey tiebreak (operators/dedup.scd2_intervals).
        "scd2_intervals": """
  SELECT o_custkey, o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
         strftime(LEAD(o_orderdate) OVER w,
                  '%Y-%m-%d %H:%M:%S') AS valid_to,
         CAST(ROW_NUMBER() OVER w AS INT) AS version,
         LEAD(o_orderdate) OVER w IS NULL AS is_current
  FROM orders WHERE o_orderdate IS NOT NULL
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey)""",
        # Data-contract report: row-local constraints as one-pass SUMs,
        # unique as sum(c-1), fk as NOT EXISTS count
        # (datapipe/quality.constraint_report).
        "dq_report": """
  WITH dq_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
  SELECT r."constraint", r."column", r.violations, n.n_rows
  FROM (
    SELECT 'not_null' AS "constraint", 'o_custkey' AS "column",
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS violations
    FROM orders
    UNION ALL
    SELECT 'range', 'o_totalprice',
           CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                          AND (o_totalprice < 0.0
                               OR o_totalprice > 1000000.0)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'accepted', 'o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'regexp', 'o_orderpriority',
           CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                          AND NOT regexp_matches(o_orderpriority,
                                                 '^[1-5]-')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_orderkey',
           CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
    FROM (SELECT COUNT(*) AS c FROM orders
          WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
    UNION ALL
    SELECT 'fk', 'o_custkey',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
  ) r CROSS JOIN dq_n n""",
        # Exact prefix-filter similarity join: rarest-first global token
        # order, p = sz - ceil(t*sz) + 1 prefixes, integer size filter +
        # integer Jaccard acceptance (ssjoin.jaccard_join_exact,
        # t = 4/5, 3-shingles).
        "jaccard_join_exact": """
  WITH sj_w AS (SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS ws
                FROM documents),
  sj_t AS (SELECT DISTINCT doc_id,
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]
                  || ' ' || ws[CAST(i AS INT) + 2] AS tok
           FROM sj_w, UNNEST(range(1, len(ws) - 1)) AS u(i)),
  sj_sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
            FROM sj_t GROUP BY 1),
  sj_f AS (SELECT tok, COUNT(*) AS tf FROM sj_t GROUP BY 1),
  sj_r AS (SELECT t.doc_id, t.tok, s.sz,
                  ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                     ORDER BY f.tf ASC, t.tok ASC) AS pos
           FROM sj_t t JOIN sj_f f ON t.tok = f.tok
           JOIN sj_sz s ON t.doc_id = s.doc_id),
  sj_p AS (SELECT doc_id, tok, sz FROM sj_r
           WHERE pos <= sz - ((sz * 4 + 4) // 5) + 1),
  sj_c AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sz AS size_a, b.sz AS size_b
           FROM sj_p a JOIN sj_p b
             ON a.tok = b.tok AND a.doc_id < b.doc_id
            AND b.sz * 5 >= a.sz * 4 AND a.sz * 5 >= b.sz * 4),
  sj_i AS (SELECT c.id_a, c.id_b, c.size_a, c.size_b,
                  CAST(COUNT(*) AS BIGINT) AS inter
           FROM sj_c c
           JOIN sj_t x ON x.doc_id = c.id_a
           JOIN sj_t y ON y.doc_id = c.id_b AND y.tok = x.tok
           GROUP BY 1, 2, 3, 4)
  SELECT id_a, id_b, inter, size_a, size_b,
         CAST(inter AS DOUBLE)
         / CAST(size_a + size_b - inter AS DOUBLE) AS jaccard
  FROM sj_i
  WHERE inter * 5 >= 4 * (size_a + size_b - inter)""",
        # Log-histogram quantiles: bit-length buckets (exact integer,
        # no float log), cumulative window, ceil-rank pick per rational
        # quantile (sketches.loghist_build/loghist_quantiles).
        "loghist_quantiles": """
  WITH lh_b AS (SELECT o_orderpriority AS g,
                       CAST(floor(o_totalprice * 100.0 + 0.5)
                            AS BIGINT) AS v
                FROM orders),
  lh_s AS (SELECT g,
                  CASE WHEN v = 0 THEN 0
                       ELSE CAST(length(bin(v)) AS INT) END AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM lh_b WHERE v IS NOT NULL AND v >= 0 GROUP BY 1, 2),
  lh_c AS (SELECT g, bucket,
                  SUM(cnt) OVER (PARTITION BY g ORDER BY bucket
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum,
                  SUM(cnt) OVER (PARTITION BY g) AS n
           FROM lh_s),
  lh_q AS (
    SELECT g, CAST(1 AS INT) AS q_num, CAST(2 AS INT) AS q_den,
           MIN(CASE WHEN cum >= ((n * 1 + 1) // 2)
                    THEN bucket END) AS bucket
    FROM lh_c GROUP BY g
    UNION ALL
    SELECT g, CAST(9 AS INT), CAST(10 AS INT),
           MIN(CASE WHEN cum >= ((n * 9 + 9) // 10)
                    THEN bucket END)
    FROM lh_c GROUP BY g
    UNION ALL
    SELECT g, CAST(99 AS INT), CAST(100 AS INT),
           MIN(CASE WHEN cum >= ((n * 99 + 99) // 100)
                    THEN bucket END)
    FROM lh_c GROUP BY g)
  SELECT g AS o_orderpriority, q_num, q_den, bucket,
         CASE WHEN bucket <= 0 THEN 0
              ELSE 1::BIGINT << (bucket - 1) END AS est_lo,
         CASE WHEN bucket <= 0 THEN 0
              ELSE (1::BIGINT << bucket) - 1 END AS est_hi
  FROM lh_q""",
        # CMS overcount calibration: estimates vs true counts, one
        # summary row (same cell CTEs as cms_freq).
        "cms_error": """
  WITH salts(i) AS (VALUES (0), (1), (2), (3)),
  cev AS (SELECT CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
  cec AS (SELECT s.i AS row_idx,
                 CAST('0x' || substr(md5(c.v || '#' || CAST(s.i AS VARCHAR)),
                                     1, 15) AS BIGINT) % 512 AS col_idx,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM cev c, salts s GROUP BY 1, 2),
  cet AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS true_cnt,
                 CAST(l_partkey AS VARCHAR) AS v
          FROM lineitem GROUP BY 1),
  cep AS (SELECT t.l_partkey, t.true_cnt, s.i AS row_idx,
                 CAST('0x' || substr(md5(t.v || '#' || CAST(s.i AS VARCHAR)),
                                     1, 15) AS BIGINT) % 512 AS col_idx
          FROM cet t, salts s),
  cee AS (SELECT p.l_partkey, p.true_cnt,
                 MIN(CAST(COALESCE(c.cnt, 0) AS BIGINT)) AS est
          FROM cep p LEFT JOIN cec c
            ON p.row_idx = c.row_idx AND p.col_idx = c.col_idx
          GROUP BY 1, 2),
  ceo AS (SELECT est - true_cnt AS over FROM cee)
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(CASE WHEN over = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact,
         CAST(MIN(over) AS BIGINT) AS min_over,
         CAST(MAX(over) AS BIGINT) AS max_over,
         CAST(SUM(over) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_over
  FROM ceo""",
        # Gap-fill resample: day buckets on the floor(epoch/step) grid,
        # per-bucket last-by-(ts, value) pick, per-key generate_series
        # grid, IGNORE NULLS forward fill (timeseries.resample_fill).
        "resample_fill": """
  WITH rf_obs AS (SELECT user_id,
                         CAST(floor(epoch(ts) / 86400.0) * 86400
                              AS BIGINT) AS b,
                         ts, value
                  FROM events
                  WHERE event_type = 'purchase'
                    AND ts IS NOT NULL AND value IS NOT NULL),
  rf_pick AS (SELECT user_id, b, value,
                     ROW_NUMBER() OVER (PARTITION BY user_id, b
                                        ORDER BY ts DESC, value DESC) AS r
              FROM rf_obs),
  rf_pb AS (SELECT user_id, b, value FROM rf_pick WHERE r = 1),
  rf_span AS (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi
              FROM rf_pb GROUP BY 1),
  rf_grid AS (SELECT user_id, UNNEST(generate_series(lo, hi, 86400)) AS b
              FROM rf_span),
  rf_j AS (SELECT g.user_id, g.b, p.value
           FROM rf_grid g LEFT JOIN rf_pb p
             ON g.user_id = p.user_id AND g.b = p.b)
  SELECT user_id,
         strftime(to_timestamp(b), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
         last_value(value IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS value_filled,
         value IS NOT NULL AS observed
  FROM rf_j""",
        # Zone maps: one groupBy on the shard key; min/max/nulls per
        # column + row count (stats.zone_maps).
        "zone_maps": """
  WITH zm_b AS (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                       l_orderkey,
                       CAST(floor(l_extendedprice * 100.0 + 0.5)
                            AS BIGINT) AS price_cents
                FROM lineitem)
  SELECT ship_month,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(l_orderkey) AS l_orderkey_min,
         MAX(l_orderkey) AS l_orderkey_max,
         CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS l_orderkey_nulls,
         MIN(price_cents) AS price_cents_min,
         MAX(price_cents) AS price_cents_max,
         CAST(SUM(CASE WHEN price_cents IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS price_cents_nulls
  FROM zm_b GROUP BY 1""",
        # Per-group OLS from exact HUGEINT moments; intercept re-derives
        # the slope expression with the identical op order
        # (stats.group_ols).
        "group_ols": """
  WITH go_b AS (SELECT o_orderpriority,
                       CAST(CAST(floor(epoch(o_orderdate) / 86400.0)
                                 AS BIGINT) AS HUGEINT) AS x,
                       CAST(CAST(floor(o_totalprice * 100.0 + 0.5)
                                 AS BIGINT) AS HUGEINT) AS y
                FROM orders),
  go_m AS (SELECT o_orderpriority, COUNT(*) AS n,
                  SUM(x) AS sx, SUM(y) AS sy,
                  SUM(x * x) AS sxx, SUM(x * y) AS sxy
           FROM go_b GROUP BY 1)
  SELECT o_orderpriority, n,
         CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0 THEN
           CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
           / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
         END AS slope,
         CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0 THEN
           (CAST(sy AS DOUBLE)
            - (CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
              * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE)
         END AS intercept
  FROM go_m""",
        # Bloom FPR calibration: same build CTEs as bloom_blocklist,
        # probes shifted outside every key range, positive count
        # (sketches.bloom_build/bloom_probe).
        "bloom_fpr": """
  WITH salts(i) AS (VALUES (0), (1), (2), (3)),
  bfm AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v
          FROM customer WHERE c_acctbal < 0),
  bfp AS (SELECT CAST('0x' || substr(md5(m.v || '#' || CAST(s.i AS VARCHAR)),
                                     1, 15) AS BIGINT) % 4096 AS p
          FROM bfm m, salts s),
  bfw AS (SELECT p // 62 AS word_idx,
                 bit_or(1::BIGINT << CAST(p % 62 AS INT)) AS word
          FROM bfp GROUP BY 1),
  bfv AS (SELECT DISTINCT c_custkey + 10000000 AS probe_key,
                 CAST(c_custkey + 10000000 AS VARCHAR) AS v
          FROM customer),
  bfh AS (SELECT p.probe_key,
                 CAST('0x' || substr(md5(p.v || '#' || CAST(s.i AS VARCHAR)),
                                     1, 15) AS BIGINT) % 4096 AS h
          FROM bfv p, salts s),
  bft AS (SELECT probe_key,
                 CASE WHEN ((COALESCE(w.word, 0) >> CAST(h % 62 AS INT))
                            & 1) = 1 THEN 1 ELSE 0 END AS hit
          FROM bfh LEFT JOIN bfw w ON h // 62 = w.word_idx),
  bfr AS (SELECT probe_key, MIN(hit) = 1 AS mm
          FROM bft GROUP BY probe_key)
  SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
         CAST(SUM(CASE WHEN mm THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
         CAST(SUM(CASE WHEN mm THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS fp_rate
  FROM bfr""",
        # Count-Min estimates: depth-4 salted positions mod 512, exact
        # BIGINT cell sums, min-over-rows probe with absent cells = 0
        # (sketches.cms_build/cms_estimate).
        "cms_freq": """
  WITH salts(i) AS (VALUES (0), (1), (2), (3)),
  cvals AS (SELECT CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
  ccells AS (SELECT s.i AS row_idx,
                    CAST('0x' || substr(md5(c.v || '#' || CAST(s.i AS VARCHAR)),
                                        1, 15) AS BIGINT) % 512 AS col_idx,
                    CAST(COUNT(*) AS BIGINT) AS cnt
             FROM cvals c, salts s GROUP BY 1, 2),
  pvals AS (SELECT DISTINCT l_partkey,
                   CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
  pcell AS (SELECT p.l_partkey, s.i AS row_idx,
                   CAST('0x' || substr(md5(p.v || '#' || CAST(s.i AS VARCHAR)),
                                       1, 15) AS BIGINT) % 512 AS col_idx
            FROM pvals p, salts s)
  SELECT p.l_partkey,
         MIN(CAST(COALESCE(c.cnt, 0) AS BIGINT)) AS est_cnt
  FROM pcell p LEFT JOIN ccells c
    ON p.row_idx = c.row_idx AND p.col_idx = c.col_idx
  GROUP BY p.l_partkey""",
        # DSIR importance resampling: two bigram models (target = src0,
        # raw = corpus), weight = avg_p ratio, md5-grid keep at
        # min(1, 0.25*weight) — mirrors lm.dsir_select op-for-op.
        "dsir_select": f"""
  WITH dstok AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
  dsbg AS (SELECT doc_id, source,
                  unnest(CASE WHEN len(toks) >= 2
                         THEN list_transform(range(len(toks) - 1),
                              i -> toks[i + 1] || ' ' || toks[i + 2])
                         ELSE [] END) AS bg
           FROM dstok),
  -- raw-corpus model
  dsc2 AS (SELECT bg, COUNT(*) AS c2 FROM dsbg GROUP BY 1),
  dsc1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c2) AS c1
           FROM dsc2 GROUP BY 1),
  dsp AS (SELECT bg, CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
          FROM dsc2 JOIN dsc1 ON split_part(bg, ' ', 1) = w1),
  -- target-domain model (src0)
  dtc2 AS (SELECT bg, COUNT(*) AS c2 FROM dsbg WHERE source = 'src0'
           GROUP BY 1),
  dtc1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c2) AS c1
           FROM dtc2 GROUP BY 1),
  dtp AS (SELECT bg, CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
          FROM dtc2 JOIN dtc1 ON split_part(bg, ' ', 1) = w1),
  dss AS (SELECT doc_id, COUNT(*) AS n,
                 CAST(SUM(CAST(floor(p * 1099511627776.0) AS BIGINT))
                      AS BIGINT) AS s
          FROM dsbg JOIN dsp USING (bg) GROUP BY 1),
  dts AS (SELECT doc_id, COUNT(*) AS n,
                 CAST(SUM(CAST(floor(p * 1099511627776.0) AS BIGINT))
                      AS BIGINT) AS s
          FROM dsbg JOIN dtp USING (bg) GROUP BY 1),
  dsw AS (SELECT d.doc_id,
                 CASE WHEN t.n IS NOT NULL AND r.n IS NOT NULL
                      AND (CAST(r.s AS DOUBLE) / CAST(r.n AS DOUBLE)
                           / 1099511627776.0) > 0
                      THEN (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)
                            / 1099511627776.0)
                         / (CAST(r.s AS DOUBLE) / CAST(r.n AS DOUBLE)
                            / 1099511627776.0)
                      ELSE 0.0 END AS weight
          FROM documents d
          LEFT JOIN dss r ON d.doc_id = r.doc_id
          LEFT JOIN dts t ON d.doc_id = t.doc_id)
  SELECT doc_id, weight,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|dsir'),
                   1, 4) AS INT)
              < CAST(floor(least(weight * 0.25, 1.0) * 65536.0) AS INT)
              AS INT) AS kept
  FROM dsw""",
        # Inverted index: per-(term, doc) tf, frequency cut, ordered
        # comma-joined postings (text.posting_lists, min_df=2 max_df=400).
        "posting_lists": f"""
  WITH plt AS (SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents),
  plpd AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
           FROM plt GROUP BY term, doc_id),
  plf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                 CAST(SUM(tf) AS BIGINT) AS total_tf
          FROM plpd GROUP BY term
          HAVING COUNT(*) >= 2)
  SELECT f.term, f.df, f.total_tf,
         array_to_string(list(p.doc_id ORDER BY p.doc_id), ',') AS postings
  FROM plf f JOIN plpd p ON f.term = p.term
  GROUP BY f.term, f.df, f.total_tf""",
        # Train/val/test split: md5 16-bit bucket vs the same cumulative
        # integer thresholds dataset_split derives (sampling.dataset_split).
        "dataset_split": f"""
  SELECT doc_id, source,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                         || '|split'), 1, 4) AS INT)
                < {_split_thresholds()[0]} THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                         || '|split'), 1, 4) AS INT)
                < {_split_thresholds()[1]} THEN 'val'
              ELSE 'test' END AS split
  FROM documents""",
        # SFT chat formatting: 16-token prompt slice + remainder
        # completion, ChatML-ish tags (packing.to_prompt_completion +
        # format_chat_text).
        "sft_format": f"""
  WITH sftt AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  sftc AS (SELECT doc_id,
             '<|system|>' || chr(10) || 'You are a helpful assistant.'
             || chr(10) || '<|user|>' || chr(10)
             || array_to_string(toks[1:16], ' ')
             || chr(10) || '<|assistant|>' || chr(10)
             || array_to_string(toks[17:], ' ')
             || '<|end|>' AS chat_text
           FROM sftt WHERE len(toks) >= 20)
  SELECT doc_id, chat_text,
         CAST(length(chat_text) AS BIGINT) AS chat_n_chars
  FROM sftc""",
        # Exact-tier curation: gate → digest → min-id exact dedup →
        # ledger anti-join (q_stream_curation_batch).
        "stream_curation_batch": f"""
  WITH batch AS (SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN '{_STREAM_SHARED}'
                WHEN doc_id % 7 = 0 THEN '{_STREAM_REPEAT}'
                ELSE text END AS text
         FROM documents WHERE doc_id % 10 >= 3),
  store AS (SELECT CASE WHEN doc_id % 9 = 0 THEN '{_STREAM_SHARED}'
                 ELSE text END AS text
          FROM documents WHERE doc_id % 10 < 3),
  q AS (SELECT doc_id, text,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               CAST(len(list_filter({_TOKS},
                 x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT) AS n_stop
        FROM batch),
  gated AS (SELECT doc_id, text, n_tokens FROM q
            WHERE n_tokens >= 10
              AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.5),
  bd AS (SELECT doc_id, n_tokens, md5({_norm_expr()}) AS norm_digest FROM gated),
  sd AS (SELECT DISTINCT md5({_norm_expr()}) AS norm_digest FROM store),
  first_ids AS (SELECT norm_digest, MIN(doc_id) AS doc_id
                FROM bd GROUP BY norm_digest)
  SELECT b.doc_id, b.norm_digest, b.n_tokens
  FROM bd b JOIN first_ids f
    ON b.doc_id = f.doc_id AND b.norm_digest = f.norm_digest
  ANTI JOIN sd s ON b.norm_digest = s.norm_digest""",
        "top_ngrams": f"""
  WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
          THEN list_transform(range(1, len(toks)-3+2),
                 i -> array_to_string(list_slice(toks, i, i+3-1), ' '))
          ELSE CAST([] AS VARCHAR[]) END AS grams FROM tok),
  x AS (SELECT doc_id, unnest(grams) AS gram FROM g),
  a AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM x GROUP BY gram)
  SELECT gram, n_occurrences, n_docs FROM a
  ORDER BY n_occurrences DESC, gram LIMIT 20""",
        "budget_select": f"""
  WITH p AS (SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               CAST(len(list_filter({_TOKS},
                 x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS stp
             FROM documents),
  q AS (SELECT doc_id, n_tokens,
               (1000 * (n_tokens - stp)) // n_tokens AS quality_bucket FROM p),
  c AS (SELECT *, SUM(n_tokens) OVER (
          ORDER BY quality_bucket DESC, doc_id) AS cum FROM q)
  SELECT doc_id, quality_bucket, n_tokens FROM c WHERE cum <= 10000""",
        "winnow_pairs": f"""
  WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  g AS (SELECT doc_id, CASE WHEN len(toks) >= 5
          THEN list_transform(range(1, len(toks)-5+2),
                 i -> array_to_string(list_slice(toks, i, i+5-1), ' '))
          ELSE CAST([] AS VARCHAR[]) END AS grams FROM tok),
  h AS (SELECT doc_id, list_transform(grams,
          s -> CAST(('0x'||substr(md5(s),1,8)) AS BIGINT)) AS hs FROM g),
  m AS (SELECT doc_id, CASE WHEN len(hs) >= 4
          THEN list_transform(range(1, len(hs)-4+2),
                 i -> list_aggregate(list_slice(hs, i, i+4-1), 'min'))
          ELSE hs END AS mins FROM h),
  fps AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m),
  hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 50),
  f2 AS (SELECT f.* FROM fps f ANTI JOIN hot USING (fp))
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM f2 a JOIN f2 b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2""",
        "decontamination": f"""
  WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM tok),
  ds AS (SELECT doc_id, unnest(list_distinct(shingles)) AS shingle FROM sh),
  bs AS (SELECT DISTINCT unnest(list_distinct(shingles)) AS shingle
         FROM sh WHERE doc_id % 50 = 0),
  shared AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
             FROM ds JOIN bs USING (shingle) GROUP BY doc_id)
  SELECT d.doc_id,
         COALESCE(n, 0) AS n_shared_shingles,
         CAST(COALESCE(n, 0) >= 1 AS INT) AS is_contaminated
  FROM documents d LEFT JOIN shared s ON d.doc_id = s.doc_id""",
        # Metadata struct + Arrow-batched feature extraction in one
        # projection (q_multimodal_pipeline: with_binary_payload joined
        # with extract_features; payload is the UTF-8 text bytes, so
        # DuckDB recomputes identical features server-side).
        "multimodal_pipeline": """
  SELECT doc_id, 'application/octet-stream' AS mime,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         -- DuckDB md5(VARCHAR) hashes the UTF-8 bytes = Spark's
         -- md5(encode(text, 'UTF-8')).
         md5(text) AS payload_md5,
         -- first 8 payload bytes as lowercase hex (2 chars/byte).
         lower(substring(hex(encode(text)), 1, 16)) AS head_hex
  FROM documents""",
        # 32-token chunks, stride 24 (overlap 8): DuckDB's range(0, n, 24)
        # equals Spark's sequence(0, n-1, 24) start grid (empty at n=0);
        # list_slice is 1-based end-inclusive with clamped overrun, same
        # as Spark's slice(toks, start+1, 32).
        "doc_chunks": f"""
  WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  c AS (SELECT doc_id, toks,
               UNNEST(range(0, len(toks), 24)) AS chunk_start FROM tok)
  SELECT doc_id,
         chunk_start // 24 AS chunk_idx,
         chunk_start,
         CAST(len(list_slice(toks, chunk_start + 1, chunk_start + 32)) AS BIGINT)
           AS n_chunk_tokens,
         array_to_string(list_slice(toks, chunk_start + 1, chunk_start + 32), ' ')
           AS chunk_text
  FROM c""",
        # tf/df ranks identically to tf·idf (N constant) and is one IEEE
        # division — engine-exact, unlike ln-based idf.
        "tfidf_topk": f"""
  WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
  tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
  dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
  SELECT doc_id, term, tf, df,
         CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
           ORDER BY CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) DESC, term)
           AS tfidf_rank
  FROM tf JOIN dfq USING (term)
  QUALIFY tfidf_rank <= 3""",
        # Window breadth: standard SQL definitions are engine-identical
        # under the explicit total (date, key) order.
        "window_functions": """
  SELECT o_orderkey, o_custkey,
         CAST(NTILE(4) OVER w AS INT) AS quartile,
         PERCENT_RANK() OVER w AS pct_rank,
         CUME_DIST() OVER w AS cume,
         LAG(o_totalprice) OVER w AS prev_price,
         LEAD(o_totalprice) OVER w AS next_price
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC)""",
        # Triangles: oriented wedge join closed against the edge list.
        "triangles": """
  WITH tr_p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING COUNT(*) >= 2),
  tr_e AS (SELECT DISTINCT LEAST(pa, pb) AS a, GREATEST(pa, pb) AS b
           FROM tr_p WHERE pa != pb),
  tr_w AS (SELECT e1.a AS wa, e1.b AS wb, e2.b AS wc
           FROM tr_e e1 JOIN tr_e e2 ON e1.a = e2.a AND e1.b < e2.b)
  SELECT COUNT(*) AS n_triangles
  FROM tr_w JOIN tr_e e ON tr_w.wb = e.a AND tr_w.wc = e.b""",
        # Span excision: same window grid as dup_spans; 1-based list
        # lambdas index identically in both engines.
        "dup_spans_excise": f"""
  WITH de_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  de_w AS (SELECT doc_id, i AS widx,
                  md5(array_to_string(toks[i:i+7], ' ')) AS whash
           FROM de_tok, unnest(CASE WHEN len(toks) >= 8
                THEN generate_series(1, len(toks) - 7) ELSE [] END) AS u(i)),
  de_dup AS (SELECT whash FROM
               (SELECT whash, COUNT(*) AS c FROM de_w GROUP BY 1)
             WHERE c >= 2),
  de_cov AS (SELECT doc_id, list(DISTINCT pos) AS cov
             FROM (SELECT doc_id,
                          unnest(generate_series(widx, widx + 7)) AS pos
                   FROM de_w JOIN de_dup USING (whash)) GROUP BY 1)
  SELECT t.doc_id,
         -- array_to_string([]) is NULL in DuckDB but '' in Spark's
         -- array_join: normalize the fully-excised case
         COALESCE(array_to_string(list_transform(
           list_filter(list_transform(toks, (x, i) -> i),
                       i -> NOT list_contains(COALESCE(cov, []), i)),
           i -> toks[i]), ' '), '') AS clean_text,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(list_transform(toks, (x, i) -> i),
              i -> list_contains(COALESCE(cov, []), i))) AS BIGINT)
           AS n_removed
  FROM de_tok t LEFT JOIN de_cov USING (doc_id)""",
        # JSON props: json_extract_string ≡ get_json_object; exact mean
        # (long sum / long count, one double division).
        "json_props": """
  WITH jp AS (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events)
  SELECT event_type, COUNT(*) AS n,
         COUNT(DISTINCT k) AS n_k,
         CAST(SUM(k) AS DOUBLE) / CAST(COUNT(k) AS DOUBLE) AS mean_k
  FROM jp GROUP BY 1""",
        # Melt: UNION ALL twin of Spark's unpivot (row order irrelevant
        # to the driver's order-insensitive compare).
        "unpivot_melt": """
  SELECT c_custkey, 'acctbal' AS metric,
         CAST(c_acctbal AS DOUBLE) AS value FROM customer
  UNION ALL
  SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer""",
        # Z-order key: identical shift/mask interleave terms.
        "zorder_key": f"""
  WITH zk AS (SELECT o_orderkey, o_custkey AS x,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) AS y
              FROM orders)
  SELECT o_orderkey,
         CAST({" + ".join(f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})" for i in range(16))}
              AS BIGINT) AS zkey
  FROM zk""",
        # Sessionized funnel: the sessionization CTE feeds the funnel's
        # nested window minima partitioned by (user, session).
        "session_funnel": """
  WITH sf_l AS (
    SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS prev
    FROM events),
  sf_m AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
                          THEN 1 ELSE 0 END AS is_new FROM sf_l),
  sf_s AS (SELECT event_id, user_id, event_type, ts,
                  CAST(SUM(is_new) OVER (PARTITION BY user_id
                       ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS session_seq
           FROM sf_m),
  sf_s0 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
                        OVER (PARTITION BY user_id, session_seq) AS s0
            FROM sf_s),
  sf_s1 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= s0
                          THEN ts END)
                        OVER (PARTITION BY user_id, session_seq) AS s1
            FROM sf_s0),
  sf_s2 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= s1
                          THEN ts END)
                        OVER (PARTITION BY user_id, session_seq) AS s2
            FROM sf_s1)
  SELECT user_id, session_seq,
         CAST((CASE WHEN MIN(s0) IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN MIN(s1) IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN MIN(s2) IS NULL THEN 0 ELSE 1 END) AS INT)
           AS stages_reached
  FROM sf_s2 GROUP BY user_id, session_seq""",
        # Snowflake chain: same 10^-4 integer revenue grid, same
        # left-assoc op order as the Spark column.
        "snowflake_join": """
  SELECT r.r_name AS region,
         CAST(year(o.o_orderdate) AS INT) AS year,
         COUNT(*) AS n_items,
         CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                             * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / 10000.0 AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2""",
        # Hierarchy depth: recursive walk to the self-parent root; the
        # deepest row per node is its resolution.
        "hierarchy_depth": """
  WITH RECURSIVE hd_e AS (
    SELECT c_custkey AS node,
           CASE WHEN c_custkey <= 1 THEN c_custkey
                ELSE c_custkey // 2 END AS parent
    FROM customer),
  hd_w(node, cur, d) AS (
    SELECT node, node, CAST(0 AS BIGINT) FROM hd_e
    UNION ALL
    SELECT w.node, e.parent, w.d + 1
    FROM hd_w w JOIN hd_e e ON e.node = w.cur AND e.parent != w.cur)
  SELECT node, cur AS root, d AS depth FROM hd_w
  QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY d DESC) = 1""",
        # Snapshot diff: full outer on key, IS DISTINCT FROM per column
        # (≡ Spark eqNullSafe negation), sorted changed-name list.
        "snapshot_diff": """
  WITH sd_o AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment
                FROM customer),
  sd_n AS (SELECT c_custkey, c_name,
                  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1.0
                       ELSE c_acctbal END AS c_acctbal,
                  c_mktsegment
           FROM customer WHERE c_custkey % 10 != 0
           UNION ALL
           SELECT c_custkey + 2000000, c_name, c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey < 50),
  sd_j AS (SELECT o.c_custkey AS ok, n.c_custkey AS nk,
                  o.c_acctbal IS DISTINCT FROM n.c_acctbal AS d_bal,
                  o.c_mktsegment IS DISTINCT FROM n.c_mktsegment AS d_seg,
                  o.c_name IS DISTINCT FROM n.c_name AS d_name
           FROM sd_o o FULL OUTER JOIN sd_n n
             ON o.c_custkey = n.c_custkey),
  sd_c AS (SELECT COALESCE(ok, nk) AS c_custkey,
                  CASE WHEN ok IS NOT NULL AND nk IS NULL THEN 'delete'
                       WHEN ok IS NULL THEN 'insert'
                       WHEN d_bal OR d_seg OR d_name THEN 'update'
                  END AS op,
                  CASE WHEN ok IS NOT NULL AND nk IS NOT NULL THEN
                    array_to_string(list_sort(
                      [x FOR x IN [CASE WHEN d_bal THEN 'c_acctbal' END,
                                   CASE WHEN d_seg THEN 'c_mktsegment' END,
                                   CASE WHEN d_name THEN 'c_name' END]
                       IF x IS NOT NULL]), ',')
                  ELSE '' END AS changed
           FROM sd_j)
  SELECT c_custkey, op, changed FROM sd_c WHERE op IS NOT NULL""",
        # Z-score: HUGEINT moments ≡ Spark's DECIMAL(38,0) moments
        # (equal integers → equal doubles); same fixed op order.
        "zscore": """
  WITH zs_m AS (SELECT lang, COUNT(*) AS n,
                       SUM(CAST(n_chars AS HUGEINT)) AS s1,
                       SUM(CAST(n_chars AS HUGEINT)
                           * CAST(n_chars AS HUGEINT)) AS s2
                FROM documents GROUP BY 1)
  SELECT d.doc_id, d.lang, d.n_chars,
         CASE WHEN CAST(n AS HUGEINT) * s2 - s1 * s1 > 0 THEN
           (CAST(n_chars AS DOUBLE)
              - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         END AS zscore
  FROM documents d JOIN zs_m USING (lang)""",
        # Skew/kurtosis: HUGEINT central-moment numerators, then the
        # same fixed-order double expression as the Spark column.
        "skew_kurt": """
  WITH sk_m AS (SELECT lang, COUNT(*) AS n,
                       SUM(CAST(n_chars AS HUGEINT)) AS s1,
                       SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2,
                       SUM(CAST(n_chars AS HUGEINT) * n_chars * n_chars)
                         AS s3,
                       SUM(CAST(n_chars AS HUGEINT) * n_chars * n_chars
                           * n_chars) AS s4
                FROM documents GROUP BY 1),
  sk_c AS (SELECT lang, n,
                  CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m2,
                  CAST(CAST(n AS HUGEINT) * n * s3
                       - 3 * CAST(n AS HUGEINT) * s1 * s2
                       + 2 * s1 * s1 * s1 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE)) AS m3,
                  CAST(CAST(n AS HUGEINT) * n * n * s4
                       - 4 * CAST(n AS HUGEINT) * n * s1 * s3
                       + 6 * CAST(n AS HUGEINT) * s1 * s1 * s2
                       - 3 * s1 * s1 * s1 * s1 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m4
           FROM sk_m)
  SELECT lang, n,
         CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS skewness,
         CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurtosis
  FROM sk_c""",
        # Exact Pearson r from integer moments; cents bridge identical
        # to rolling_spend's.
        "exact_corr": """
  WITH ec_b AS (SELECT l_returnflag,
                       CAST(CAST(l_quantity AS BIGINT) AS HUGEINT) AS x,
                       CAST(CAST(floor(l_extendedprice * 100.0 + 0.5)
                                 AS BIGINT) AS HUGEINT) AS y
                FROM lineitem),
  ec_m AS (SELECT l_returnflag, COUNT(*) AS n,
                  SUM(x) AS sx, SUM(y) AS sy,
                  SUM(x * x) AS sxx, SUM(y * y) AS syy,
                  SUM(x * y) AS sxy
           FROM ec_b GROUP BY 1)
  SELECT l_returnflag, n,
         CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0
               AND CAST(n AS HUGEINT) * syy - sy * sy > 0 THEN
           CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)))
         END AS r
  FROM ec_m""",
        # Pseudonymize: per-column-salted md5 prefixes, NULL-preserving.
        "pseudonymize": """
  SELECT c_custkey,
         CASE WHEN c_name IS NOT NULL THEN
           substr(md5('c_name|s1|' || CAST(c_name AS VARCHAR)), 1, 16)
         END AS c_name,
         CASE WHEN c_mktsegment IS NOT NULL THEN
           substr(md5('c_mktsegment|s1|' || CAST(c_mktsegment AS VARCHAR)),
                  1, 16)
         END AS c_mktsegment
  FROM customer""",
        # Market-basket pairs: orderkey self-join, a<b canonical order.
        "copurchase_pairs": """
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3""",
        # ROLLUP: GROUPING bitmask shares Spark's grouping_id convention
        # (leftmost column = most significant bit).
        "rollup_stats": f"""
  SELECT lang, source, CAST(GROUPING(lang, source) AS BIGINT) AS gid,
         COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
  FROM (SELECT lang, source, {_TOKS} AS toks FROM documents)
  GROUP BY ROLLUP (lang, source)""",
        # Full CUBE: all 4 grouping sets, HUGEINT cent sums, GROUPING
        # bitmask ≡ grouping_id (leftmost = MSB).
        "cube_stats": """
  SELECT o_orderpriority, o_orderstatus,
         CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(CAST(floor(o_totalprice * 100.0 + 0.5)
                            AS BIGINT) AS HUGEINT)) AS BIGINT)
           AS total_cents
  FROM orders
  GROUP BY CUBE (o_orderpriority, o_orderstatus)""",
        # Period-over-period: lag over the AGGREGATED hourly series.
        "period_over_period": """
  WITH pp AS (SELECT date_trunc('hour', ts) AS h, event_type,
                     COUNT(*) AS n
              FROM events GROUP BY 1, 2)
  SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, n,
         LAG(n) OVER (PARTITION BY event_type ORDER BY h) AS prev_n,
         n - LAG(n) OVER (PARTITION BY event_type ORDER BY h) AS delta
  FROM pp""",
        # Retrieval e2e: chunk grid (stride 24 / window 32) → hashing
        # features over chunk tokens → sequential-fold cosine, top-3 per
        # query — every stage reuses an already-verified oracle idiom.
        "retrieval_e2e": f"""
  WITH rg_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  rg_ch AS (SELECT doc_id, chunk_start // 24 AS chunk_idx,
                   array_to_string(list_slice(toks, chunk_start + 1,
                                              chunk_start + 32), ' ')
                     AS chunk_text
            FROM (SELECT doc_id, toks,
                         UNNEST(range(0, len(toks), 24)) AS chunk_start
                  FROM rg_tok)),
  rg_cf AS (SELECT 1000000 + doc_id * 1000 + chunk_idx AS vid,
                   list_transform(range(64), i -> CAST(len(list_filter(
                     string_split_regex(trim(chunk_text), '\\s+'),
                     t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 64
                          = i)) AS DOUBLE)) AS v
            FROM rg_ch),
  rg_qf AS (SELECT doc_id AS vid,
                   list_transform(range(64), i -> CAST(len(list_filter(
                     toks,
                     t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 64
                          = i)) AS DOUBLE)) AS v
            FROM rg_tok WHERE doc_id < 4),
  rg_cn AS (SELECT vid, v, sqrt({_COS_DOT.format(a="v", b="v")}) AS nrm
            FROM rg_cf),
  rg_qn AS (SELECT vid, v, sqrt({_COS_DOT.format(a="v", b="v")}) AS nrm
            FROM rg_qf),
  rg_p AS (SELECT q.vid AS vec_id, c.vid AS neighbor_id,
                  {_COS_DOT.format(a="q.v", b="c.v")} / (q.nrm * c.nrm)
                    AS cos_sim
           FROM rg_qn q JOIN rg_cn c ON q.vid != c.vid)
  SELECT vec_id, neighbor_id,
         (neighbor_id - 1000000) // 1000 AS neighbor_doc,
         neighbor_id % 1000 AS neighbor_chunk,
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, neighbor_id)
              AS BIGINT) AS sim_rank,
         cos_sim
  FROM rg_p
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY cos_sim DESC, neighbor_id) <= 3""",
        # Histogram: floor-bin on (v-lo)/((hi-lo)/n), clamp to n-1,
        # degenerate min==max group to bin 0 — same double op order.
        "histogram": """
  WITH vh_mm AS (SELECT lang, MIN(CAST(n_chars AS DOUBLE)) AS lo,
                        MAX(CAST(n_chars AS DOUBLE)) AS hi
                 FROM documents GROUP BY 1),
  vh_b AS (SELECT d.lang,
                  -- outer CAST: DuckDB's LEAST(INT, literal) widens to
                  -- BIGINT while the Spark side emits INT; pin the raw
                  -- dtype so a strict schema compare agrees.
                  CAST(CASE WHEN hi = lo THEN 0
                       ELSE LEAST(CAST(floor((CAST(n_chars AS DOUBLE) - lo)
                                  / ((hi - lo) / 20.0)) AS INT), 19) END
                       AS INT)
                    AS bin,
                  lo, hi
           FROM documents d JOIN vh_mm USING (lang))
  SELECT lang, bin,
         lo + CAST(bin AS DOUBLE) * ((hi - lo) / 20.0) AS bin_lo,
         lo + CAST(bin + 1 AS DOUBLE) * ((hi - lo) / 20.0) AS bin_hi,
         COUNT(*) AS n
  FROM vh_b GROUP BY lang, bin, lo, hi""",
        # Entity resolution: deletion-variant candidate pairs (bipartite
        # clean×corrupted), recursive-CTE component closure, min-label
        # representative — the composed linkage+clustering fixpoint.
        "entity_resolution": """
  WITH RECURSIVE
  er_l AS (SELECT c_custkey AS id, lower(c_name) AS s FROM customer
           WHERE c_custkey < 300),
  er_rb AS (SELECT c_custkey + 10000000 AS id, lower(c_name) AS s0,
                   1 + (c_custkey % length(lower(c_name))) AS p
            FROM customer WHERE c_custkey < 300),
  er_r AS (SELECT id, substr(s0, 1, p - 1) || substr(s0, p + 1, length(s0))
                    AS s
           FROM er_rb),
  er_lv AS (SELECT id, s, unnest(list_distinct(list_prepend(s,
                [substr(s, 1, q - 1) || substr(s, q + 1, length(s))
                 for q in generate_series(1, length(s))]))) AS v FROM er_l),
  er_rv AS (SELECT id, s, unnest(list_distinct(list_prepend(s,
                [substr(s, 1, q - 1) || substr(s, q + 1, length(s))
                 for q in generate_series(1, length(s))]))) AS v FROM er_r),
  er_pairs AS (SELECT DISTINCT l.id AS a, r.id AS b, l.s AS ls, r.s AS rs
               FROM er_lv l JOIN er_rv r USING (v)),
  er_edges AS (SELECT a AS s, b AS d FROM er_pairs
               WHERE levenshtein(ls, rs) <= 1
               UNION ALL
               SELECT b, a FROM er_pairs WHERE levenshtein(ls, rs) <= 1),
  er_nodes AS (SELECT id FROM er_l UNION ALL SELECT id FROM er_r),
  er_reach(node, r) AS (
    SELECT id, id FROM er_nodes
    UNION
    SELECT e.s, er_reach.r FROM er_reach
    JOIN er_edges e ON e.d = er_reach.node)
  SELECT node AS entity_id, MIN(r) AS cluster_id,
         (node = MIN(r)) AS is_rep
  FROM er_reach GROUP BY node""",
        # NOT IN 3VL: the oracle uses DuckDB's actual NOT IN — the
        # with_null branch must produce zero rows in both engines.
        "not_in_semantics": """
  SELECT 'clean' AS method, c_custkey, c_mktsegment FROM customer
  WHERE c_custkey NOT IN
        (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0)
  UNION ALL
  SELECT 'with_null', c_custkey, c_mktsegment FROM customer
  WHERE c_custkey NOT IN
        (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0
         UNION ALL SELECT NULL)""",
        # Exact TV divergence: |cst·W − ct·Ws| integer numerators summed
        # in DECIMAL(38,0); absent-token mass (W−B)/W added analytically;
        # final double expression in the same op order as the column.
        "source_divergence": f"""
  WITH tv_tok AS (SELECT source, unnest({_TOKS}) AS t FROM documents),
  tv_pg AS (SELECT source, t, COUNT(*) AS cst FROM tv_tok GROUP BY 1, 2),
  tv_ws AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS ws
            FROM tv_pg GROUP BY 1),
  tv_ct AS (SELECT t, CAST(SUM(cst) AS BIGINT) AS ct FROM tv_pg GROUP BY 1),
  tv_w AS (SELECT CAST(SUM(ct) AS BIGINT) AS w FROM tv_ct),
  tv_j AS (SELECT p.source, p.cst, c.ct, s.ws, w.w
           FROM tv_pg p JOIN tv_ct c USING (t)
           JOIN tv_ws s USING (source), tv_w w),
  tv_a AS (SELECT source, MIN(ws) AS ws, MIN(w) AS w,
                  SUM(abs(CAST(cst AS DECIMAL(38,0)) * w
                          - CAST(ct AS DECIMAL(38,0)) * ws)) AS a,
                  CAST(SUM(ct) AS BIGINT) AS b
           FROM tv_j GROUP BY 1)
  SELECT source, CAST(ws AS BIGINT) AS n_tokens,
         (CAST(a AS DOUBLE) / (CAST(ws AS DOUBLE) * CAST(w AS DOUBLE))
          + CAST(w - b AS DOUBLE) / CAST(w AS DOUBLE)) * 0.5
           AS tv_divergence
  FROM tv_a""",
        # Debounce: LAG over (epoch us, id tiebreak); strict > gap.
        "debounce": """
  WITH db_e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
                FROM events),
  db_l AS (SELECT *, LAG(us) OVER (PARTITION BY user_id, event_type
                                   ORDER BY us, event_id) AS prev
           FROM db_e)
  SELECT event_id, user_id, event_type
  FROM db_l WHERE prev IS NULL OR us - prev > 600000000""",
        # Rolling spend: RANGE frame over epoch micros; integer cents
        # (floor(v*100+0.5) — identical double ops both engines).
        "rolling_spend": """
  WITH rs_e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                       CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
                FROM events)
  SELECT event_id, user_id,
         CAST(COUNT(*) OVER w AS BIGINT) AS rolling_n,
         CAST(SUM(cents) OVER w AS BIGINT) AS rolling_sum
  FROM rs_e
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""",
        # The binned skew-parallel plan must be result-identical to the
        # plain RANGE frame — it shares the oracle verbatim.
        "rolling_spend_binned": """
  WITH rs_e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                       CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
                FROM events)
  SELECT event_id, user_id,
         CAST(COUNT(*) OVER w AS BIGINT) AS rolling_n,
         CAST(SUM(cents) OVER w AS BIGINT) AS rolling_sum
  FROM rs_e
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""",
        # FK audit: per-relation left-join orphan counts (distinct
        # parent keys only), third relation parent-restricted.
        "fk_orphans": """
  SELECT 'orders->customer' AS relation, COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
  FROM (SELECT o_custkey AS ck FROM orders WHERE o_custkey IS NOT NULL) c
  LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p ON c.ck = p.pk
  UNION ALL
  SELECT 'lineitem->orders', COUNT(*),
         CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT l_orderkey AS ck FROM lineitem WHERE l_orderkey IS NOT NULL) c
  LEFT JOIN (SELECT DISTINCT o_orderkey AS pk FROM orders) p ON c.ck = p.pk
  UNION ALL
  SELECT 'events->customer_small', COUNT(*),
         CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT user_id AS ck FROM events WHERE user_id IS NOT NULL) c
  LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer
             WHERE c_custkey < 50) p ON c.ck = p.pk""",
        # MAD outliers: two interpolated medians (quantile_cont ≡ Spark
        # percentile on the integer/half-integer grid), score arithmetic
        # in the same left-assoc op order as the Spark column.
        "mad_outliers": """
  WITH mo_med AS (SELECT lang,
                         quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
                  FROM documents GROUP BY 1),
  mo_mad AS (SELECT d.lang,
                    quantile_cont(abs(CAST(d.n_chars AS DOUBLE) - med), 0.5)
                      AS mad
             FROM documents d JOIN mo_med USING (lang) GROUP BY 1)
  SELECT d.doc_id, d.lang, d.n_chars,
         (mad > 0 AND
          0.6745 * abs(CAST(d.n_chars AS DOUBLE) - med) / mad > 3.5)
           AS is_outlier
  FROM documents d
  JOIN mo_med USING (lang)
  JOIN mo_mad USING (lang)""",
        # SCD-1 merge: highest version wins, update beats base on the
        # tie (src desc), NULL versions oldest — mirrors the min_by
        # sort keys of operators/dedup.upsert_latest.
        # Row-hash digest triple + shard-merge recombination
        # (stats.dataset_fingerprint): 60-bit md5 prefix of the
        # sentinel-coalesced, chr(1)-joined column rendering.
        "dataset_fingerprint": """
  WITH fp_r AS (SELECT CAST('0x' || substr(md5(
           coalesce(CAST(l_orderkey AS VARCHAR), chr(0)||'NULL'||chr(0))
           || chr(1) ||
           coalesce(CAST(l_partkey AS VARCHAR), chr(0)||'NULL'||chr(0))
           || chr(1) ||
           coalesce(CAST(l_suppkey AS VARCHAR), chr(0)||'NULL'||chr(0))
           || chr(1) ||
           coalesce(CAST(l_linenumber AS VARCHAR), chr(0)||'NULL'||chr(0))
           || chr(1) ||
           coalesce(l_returnflag, chr(0)||'NULL'||chr(0))
           || chr(1) ||
           coalesce(l_linestatus, chr(0)||'NULL'||chr(0))
         ), 1, 15) AS BIGINT) AS h,
         l_orderkey % 2 AS par
        FROM lineitem),
  fp_d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  COALESCE(bit_xor(h), 0) AS xor_hash,
                  COALESCE(SUM(CAST(h AS HUGEINT)), 0) AS sum_hash
           FROM fp_r),
  fp_p AS (SELECT par, CAST(COUNT(*) AS BIGINT) AS n,
                  COALESCE(bit_xor(h), 0) AS x,
                  COALESCE(SUM(CAST(h AS HUGEINT)), 0) AS s
           FROM fp_r GROUP BY 1),
  fp_m AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows_m,
                  bit_xor(x) AS xor_hash_m,
                  SUM(s) AS sum_hash_m
           FROM fp_p)
  SELECT d.n_rows, d.xor_hash,
         CAST(d.sum_hash AS VARCHAR) AS sum_hash,
         m.n_rows_m, m.xor_hash_m,
         CAST(m.sum_hash_m AS VARCHAR) AS sum_hash_m
  FROM fp_d d, fp_m m""",
        # Unrolled min-union BFS rounds / exact-integer HITS (HUGEINT
        # rendered as VARCHAR at the boundary) over the co-purchase
        # graph — same CTE discipline as the pagerank oracle.
        "bfs_hops": _bfs_sql(3),
        "hits_scores": _hits_sql(2),
        "assoc_rules": """
  WITH arit AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                FROM lineitem),
  arnb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets
           FROM arit),
  arsup AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS s FROM arit GROUP BY 1),
  arps AS (SELECT a.i AS ia, c.i AS ib, CAST(COUNT(*) AS BIGINT)
             AS sup_pair
           FROM arit a JOIN arit c ON a.b = c.b AND a.i < c.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
  ardr AS (SELECT ia AS antecedent, ib AS consequent, sup_pair FROM arps
           UNION ALL SELECT ib, ia, sup_pair FROM arps),
  arj AS (SELECT d.antecedent, d.consequent, d.sup_pair,
                 sa.s AS sup_ante, sc.s AS sup_cons
          FROM ardr d JOIN arsup sa ON d.antecedent = sa.i
          JOIN arsup sc ON d.consequent = sc.i
          WHERE d.sup_pair * 10 >= sa.s * 1)
  SELECT antecedent, consequent, sup_pair, sup_ante, sup_cons, n_baskets,
         CAST(sup_pair AS DOUBLE) / CAST(sup_ante AS DOUBLE) AS confidence,
         (CAST(sup_pair AS DOUBLE) * CAST(n_baskets AS DOUBLE))
           / (CAST(sup_ante AS DOUBLE) * CAST(sup_cons AS DOUBLE)) AS lift
  FROM arj, arnb""",
        "dedup_lines_scoped": """
  WITH dls_lined AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 6 = 0
                THEN 'subscribe to our newsletter today' || chr(10)
                ELSE '' END
           || 'promo code ' || source || chr(10)
           || 'doc ' || CAST(doc_id AS VARCHAR) || ' unique line' || chr(10)
           || text AS text
    FROM documents),
  dls_s AS (SELECT doc_id, source, string_split(text, chr(10)) AS parts
            FROM dls_lined),
  dls_l AS (
    SELECT doc_id, source, parts[i] AS line, i AS pos
    FROM dls_s, UNNEST(range(1, len(parts) + 1)) AS t(i)),
  dls_f AS (SELECT source, line, COUNT(DISTINCT doc_id) AS nd
            FROM dls_l GROUP BY 1, 2),
  dls_k AS (SELECT l.doc_id, l.pos, l.line, (f.nd >= 5) AS rm
            FROM dls_l l JOIN dls_f f
              ON l.source = f.source AND l.line = f.line)
  SELECT doc_id,
         COALESCE(string_agg(CASE WHEN NOT rm THEN line END, chr(10)
                             ORDER BY pos), '') AS text,
         CAST(COUNT(CASE WHEN NOT rm THEN 1 END) AS BIGINT)
           AS n_lines_kept,
         CAST(COUNT(CASE WHEN rm THEN 1 END) AS BIGINT)
           AS n_lines_removed
  FROM dls_k GROUP BY doc_id""",
        # The incremental fold proven the expensive way: re-aggregate
        # from scratch over base-minus-deletes plus inserts.
        "agg_delta_apply": """
  WITH ad_eff AS (
    SELECT o_custkey, o_totalprice FROM orders
    WHERE (o_orderdate < TIMESTAMP '1997-01-01' AND o_orderstatus <> 'F')
       OR NOT (o_orderdate < TIMESTAMP '1997-01-01'))
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM ad_eff GROUP BY 1""",
        "compaction_plan": """
  WITH cp_m AS (SELECT source, doc_id // 25 AS file_id,
                  CAST(SUM(length(text)) AS BIGINT) AS bytes
                FROM documents GROUP BY 1, 2),
  cp_c AS (SELECT source, file_id, bytes,
             CAST(SUM(bytes) OVER (PARTITION BY source
               ORDER BY file_id ASC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) - bytes AS cb
           FROM cp_m)
  SELECT source, file_id, bytes, cb // 8192 AS bin FROM cp_c""",
        "interpolate_linear": """
  WITH il_b AS (SELECT event_id, user_id, epoch_us(ts) AS us,
      CASE WHEN event_id % 5 <> 0 THEN value END AS v
    FROM events),
  il_w AS (SELECT event_id, user_id, us, v,
      last_value(CASE WHEN v IS NOT NULL
          THEN struct_pack(t := us, x := v) END IGNORE NULLS)
        OVER (PARTITION BY user_id ORDER BY us ASC, v DESC NULLS LAST
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
      first_value(CASE WHEN v IS NOT NULL
          THEN struct_pack(t := us, x := v) END IGNORE NULLS)
        OVER (PARTITION BY user_id ORDER BY us ASC, v DESC NULLS LAST
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
    FROM il_b)
  SELECT event_id, user_id,
    CASE WHEN v IS NOT NULL THEN v
         WHEN p IS NOT NULL AND n IS NOT NULL THEN
           CASE WHEN n.t = p.t THEN p.x
                ELSE p.x + (n.x - p.x)
                  * (CAST(us - p.t AS DOUBLE)
                     / CAST(n.t - p.t AS DOUBLE)) END
         WHEN p IS NOT NULL THEN p.x
         WHEN n IS NOT NULL THEN n.x
    END AS value_filled
  FROM il_w""",
        "kcore": _kcore_sql(4, 3),
        "sssp_weighted": _sssp_sql(3),
        "keyword_search": """
  WITH kse AS (SELECT doc_id,
                 UNNEST(string_split_regex(trim(text), '\\s+')) AS term
               FROM documents),
  ksh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS score,
                 CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
          FROM kse WHERE term IN ('spark', 'window', 'table')
          GROUP BY 1)
  SELECT doc_id, score, n_terms FROM ksh WHERE n_terms = 3
  ORDER BY score DESC, doc_id ASC LIMIT 20""",
        "stratified_exact": """
  WITH sxd AS (SELECT doc_id, source, lang FROM documents),
  sxc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
          FROM sxd GROUP BY 1),
  sxq AS (SELECT source, n, (n * 3) // 10 AS fl, (n * 3) % 10 AS rem
          FROM sxc),
  sxt AS (SELECT source, fl,
            row_number() OVER (ORDER BY rem DESC, source ASC NULLS LAST)
              AS rr,
            SUM(fl) OVER () AS sfl, SUM(n) OVER () AS tn
          FROM sxq),
  sxg AS (SELECT source,
            fl + CASE WHEN rr <= (tn * 3) // 10 - sfl THEN 1 ELSE 0 END
              AS target
          FROM sxt),
  sxr AS (SELECT doc_id, source, lang,
            row_number() OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
              AS rk
          FROM sxd)
  SELECT r.doc_id, r.source, r.lang
  FROM sxr r JOIN sxg g ON r.source IS NOT DISTINCT FROM g.source
  WHERE r.rk <= g.target""",
        "twap_events": """
  WITH tw_r AS (SELECT user_id, epoch_us(ts) AS us,
                  CAST(floor(value * 1024.0) AS BIGINT) AS vg
                FROM events),
  tw_g AS (SELECT user_id, vg,
             LEAD(us) OVER (PARTITION BY user_id
                            ORDER BY us ASC, vg DESC) - us AS gap
           FROM tw_r),
  tw_a AS (SELECT user_id, SUM(CAST(vg AS HUGEINT) * gap) AS wsum,
             COALESCE(SUM(gap), 0) AS span,
             CAST(COUNT(*) AS BIGINT) AS n_obs
           FROM tw_g GROUP BY 1)
  SELECT user_id,
         CASE WHEN span > 0 THEN
           (CAST(CAST(wsum AS BIGINT) AS DOUBLE) / 1024.0)
             / CAST(span AS DOUBLE)
         END AS twap,
         CAST(span AS BIGINT) AS span_us, n_obs
  FROM tw_a""",
        # The maintenance identity proven the expensive way: full new
        # join minus full old join under bag semantics (EXCEPT ALL).
        "join_delta": """
  WITH jd_a0 AS (SELECT o_orderkey AS k, o_totalprice AS val_a
                 FROM orders WHERE o_orderkey % 10 < 8),
  jd_da AS (SELECT o_orderkey AS k, o_totalprice AS val_a
            FROM orders WHERE o_orderkey % 10 >= 8),
  jd_b0 AS (SELECT l_orderkey AS k, l_extendedprice AS val_b,
                   l_linenumber AS ln
            FROM lineitem WHERE l_linenumber % 3 <> 0),
  jd_db AS (SELECT l_orderkey AS k, l_extendedprice AS val_b,
                   l_linenumber AS ln
            FROM lineitem WHERE l_linenumber % 3 = 0),
  jd_new AS (SELECT a.k, a.val_a, b.val_b, b.ln
             FROM (SELECT * FROM jd_a0 UNION ALL SELECT * FROM jd_da) a
             JOIN (SELECT * FROM jd_b0 UNION ALL SELECT * FROM jd_db) b
               ON a.k = b.k),
  jd_old AS (SELECT a.k, a.val_a, b.val_b, b.ln
             FROM jd_a0 a JOIN jd_b0 b ON a.k = b.k)
  SELECT k, val_a, val_b, ln FROM jd_new
  EXCEPT ALL
  SELECT k, val_a, val_b, ln FROM jd_old""",
        # MERGE with deletes (operators/dedup.cdc_apply): base rows
        # rank before all log rows, log rows by (ts, linenumber); the
        # last fact per key wins and 'D' removes the key.
        "cdc_apply": """
  WITH ca_b AS (SELECT o_orderkey AS k, o_totalprice AS val,
                       o_orderstatus AS tag,
                       CAST(NULL AS DATE) AS ts, 'U' AS op, 0 AS src,
                       CAST(NULL AS BIGINT) AS tb
                FROM orders WHERE o_orderkey % 3 <> 0),
  ca_l AS (SELECT l_orderkey AS k, l_extendedprice AS val,
                  l_returnflag AS tag, l_shipdate AS ts,
                  CASE WHEN l_linenumber % 4 = 0 THEN 'D'
                       ELSE 'U' END AS op,
                  1 AS src, CAST(l_linenumber AS BIGINT) AS tb
           FROM lineitem),
  ca_all AS (SELECT * FROM ca_b UNION ALL SELECT * FROM ca_l),
  ca_last AS (SELECT k, val, tag, op FROM ca_all
              QUALIFY ROW_NUMBER() OVER (PARTITION BY k
                ORDER BY src DESC, ts DESC NULLS LAST, tb DESC,
                         val DESC, tag DESC) = 1)
  SELECT k, val, tag FROM ca_last WHERE op <> 'D'""",
        "scd_upsert": """
  WITH su_b AS (SELECT c_custkey, c_name, c_acctbal,
                       1 AS version, 0 AS src FROM customer),
  su_u AS (SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
                  CASE WHEN c_custkey % 6 = 0 THEN 1 ELSE 2 END AS version,
                  1 AS src
           FROM customer WHERE c_custkey % 3 = 0),
  su_all AS (SELECT * FROM su_b UNION ALL SELECT * FROM su_u)
  SELECT c_custkey, c_name, c_acctbal, version
  FROM su_all
  QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey
                             ORDER BY version DESC NULLS LAST, src DESC) = 1""",
        # Ordered funnel: nested conditional window minima, epoch-us
        # output; at-or-after (inclusive) stage ordering.
        "funnel": """
  WITH fn_s0 AS (SELECT user_id, event_type, ts,
                        MIN(CASE WHEN event_type = 'view' THEN ts END)
                          OVER (PARTITION BY user_id) AS s0
                 FROM events),
  fn_s1 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= s0
                          THEN ts END)
                        OVER (PARTITION BY user_id) AS s1
            FROM fn_s0),
  fn_s2 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= s1
                          THEN ts END)
                        OVER (PARTITION BY user_id) AS s2
            FROM fn_s1)
  SELECT user_id,
         epoch_us(MIN(s0)) AS stage0_us,
         epoch_us(MIN(s1)) AS stage1_us,
         epoch_us(MIN(s2)) AS stage2_us,
         CAST((CASE WHEN MIN(s0) IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN MIN(s1) IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN MIN(s2) IS NULL THEN 0 ELSE 1 END)
              AS INT) AS stages_reached
  FROM fn_s2 GROUP BY user_id""",
        # Quantile buckets: per-lang interpolated quartile boundaries
        # (quantile_cont ≡ Spark percentile on integer inputs), bucket =
        # count of boundaries strictly below the value.
        "quantile_buckets": """
  WITH qb_b AS (SELECT lang,
                       [quantile_cont(CAST(n_chars AS DOUBLE), 0.25),
                        quantile_cont(CAST(n_chars AS DOUBLE), 0.5),
                        quantile_cont(CAST(n_chars AS DOUBLE), 0.75)] AS bs
                FROM documents GROUP BY 1)
  SELECT d.doc_id, d.lang, d.n_chars,
         CASE WHEN d.n_chars IS NULL THEN NULL
              ELSE CAST(len(list_filter(bs, b -> CAST(d.n_chars AS DOUBLE) > b))
                   AS INT) END AS bucket
  FROM documents d JOIN qb_b USING (lang)""",
        # Temperature mixture: rate = (nmin/n)^(3/4) as an explicit
        # sqrt-chain (left-assoc multiply, same op order as the Spark
        # column) — then the shared md5-bucket keep rule.
        "temperature_mixture": """
  WITH tm_c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
  tm_m AS (SELECT MIN(n) AS nmin FROM tm_c),
  tm_r AS (SELECT lang,
                  CAST(floor(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE))
                       * sqrt(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)))
                       * 65536.0) AS INT) AS thr
           FROM tm_c, tm_m)
  SELECT d.doc_id, d.lang
  FROM documents d JOIN tm_r USING (lang)
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'), 1, 4)
             AS INT) < thr""",
        # Attribution pairs: user equi-join + 2 h range bound — the
        # batch twin of the watermarked stream-stream join.
        "attribution_join": """
  WITH at_v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
                FROM events WHERE event_type = 'view'),
  at_c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
           FROM events WHERE event_type = 'click')
  SELECT v.user_id, view_id, click_id,
         date_diff('microsecond', view_ts, click_ts) AS gap_us
  FROM at_v v JOIN at_c c
    ON v.user_id = c.user_id
   AND click_ts >= view_ts
   AND click_ts <= view_ts + INTERVAL 7200 SECONDS""",
        # Exact-substring duplication coverage: 8-token window hashes,
        # corpus occurrence count >= 2, distinct-position coverage —
        # mirrors datapipe/dedup.dup_span_stats (1-based widx grid).
        # Depth-limited suffix ranking: DuckDB ranks the depth-8 token
        # windows directly as LIST keys (lexicographic, shorter-prefix-
        # first — exactly the prefix-doubling comparison order); the
        # engine builds the same dense rank in log2(8) doubling rounds.
        "suffix_ranks": f"""
  WITH sfr_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  sfr_pos AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i:i+7] AS key
              FROM sfr_tok,
                   unnest(generate_series(1, len(toks))) AS u(i))
  SELECT doc_id, pos,
         CAST(dense_rank() OVER (ORDER BY key) AS BIGINT) AS rank
  FROM sfr_pos""",
        # ExactSubstr spans: duplicated full-depth windows (grouped by
        # the exact token LIST, no hash) merged gaps-and-islands style —
        # the engine decides duplication by suffix-rank equality, which
        # is the same predicate.
        "exact_substr_spans": f"""
  WITH ess_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  ess_p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i:i+7] AS key
            FROM ess_tok, unnest(CASE WHEN len(toks) >= 8
                 THEN generate_series(1, len(toks) - 7) ELSE [] END) AS u(i)),
  ess_d AS (SELECT key FROM
              (SELECT key, count(*) AS c FROM ess_p GROUP BY 1)
            WHERE c >= 2),
  ess_s AS (SELECT doc_id, pos FROM ess_p JOIN ess_d USING (key)),
  ess_g AS (SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER
                          (PARTITION BY doc_id ORDER BY pos) <= 8
                        THEN 0 ELSE 1 END AS brk
            FROM ess_s),
  ess_i AS (SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
            FROM ess_g)
  SELECT doc_id,
         CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + 7 AS BIGINT) AS span_end,
         CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
  FROM ess_i GROUP BY doc_id, isl""",
        # Cross-corpus decontamination: exact 8-token window identity
        # between the held-in docs and the src1 pseudo-heldout, islands
        # merged per train doc.
        "cross_corpus_substr": f"""
  WITH ccs_tr AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                  WHERE source != 'src1'),
  ccs_te AS (SELECT {_TOKS} AS toks FROM documents
             WHERE source = 'src1'),
  ccs_tw AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i:i+7] AS key
             FROM ccs_tr, unnest(CASE WHEN len(toks) >= 8
                  THEN generate_series(1, len(toks) - 7) ELSE [] END)
                  AS u(i)),
  ccs_ew AS (SELECT DISTINCT toks[i:i+7] AS key
             FROM ccs_te, unnest(CASE WHEN len(toks) >= 8
                  THEN generate_series(1, len(toks) - 7) ELSE [] END)
                  AS u(i)),
  ccs_s AS (SELECT doc_id, pos FROM ccs_tw JOIN ccs_ew USING (key)),
  ccs_g AS (SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER
                          (PARTITION BY doc_id ORDER BY pos) <= 8
                        THEN 0 ELSE 1 END AS brk
            FROM ccs_s),
  ccs_i AS (SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
            FROM ccs_g)
  SELECT doc_id,
         CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + 7 AS BIGINT) AS span_end,
         CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
  FROM ccs_i GROUP BY doc_id, isl""",
        # Dense-rank RRF: the oracle affords a global window at gate
        # scale; the engine builds the same dense ranks via the
        # bucketed prefix.
        "rrf_fuse": f"""
  WITH rrf_f AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS s1,
                        CAST(len({_TOKS}) AS DOUBLE) AS s2
                 FROM documents),
  rrf_r AS (SELECT doc_id,
              CAST(dense_rank() OVER (ORDER BY -s1) AS BIGINT)
                AS rank_n_chars_s,
              CAST(dense_rank() OVER (ORDER BY -s2) AS BIGINT)
                AS rank_n_tokens_s
            FROM rrf_f)
  SELECT doc_id, rank_n_chars_s, rank_n_tokens_s,
         1.0 / (60.0 + CAST(rank_n_chars_s AS DOUBLE))
         + 1.0 / (60.0 + CAST(rank_n_tokens_s AS DOUBLE)) AS rrf_score
  FROM rrf_r ORDER BY rrf_score DESC, doc_id LIMIT 20""",
        # Longest duplicated run: brute per-length window counts (the
        # oracle can afford a pass per length at gate scale); the engine
        # answers every length from ONE prefix-doubling rank structure.
        "longest_dup_run": f"""
  WITH ldr_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  ldr_w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   CAST(L AS BIGINT) AS len, toks[i:i+L-1] AS key
            FROM ldr_tok,
                 unnest(generate_series(1, len(toks))) AS u(i),
                 unnest(generate_series(1, 8)) AS v(L)
            WHERE i + L - 1 <= len(toks)),
  ldr_d AS (SELECT len, key FROM
              (SELECT len, key, count(*) AS c FROM ldr_w GROUP BY 1, 2)
            WHERE c >= 2),
  ldr_p AS (SELECT w.doc_id, w.pos, max(w.len) AS li
            FROM ldr_w w JOIN ldr_d d ON w.len = d.len AND w.key = d.key
            GROUP BY 1, 2),
  ldr_doc AS (SELECT doc_id, max(li) AS best FROM ldr_p GROUP BY 1),
  ldr_nb AS (SELECT p.doc_id, count(*) AS n_at_max
             FROM ldr_p p JOIN ldr_doc b
               ON p.doc_id = b.doc_id AND p.li = b.best
             GROUP BY 1)
  SELECT d.doc_id,
         CAST(coalesce(b.best, 0) AS BIGINT) AS longest_dup_len,
         CAST(coalesce(nb.n_at_max, 0) AS BIGINT) AS n_at_max
  FROM documents d
  LEFT JOIN ldr_doc b USING (doc_id)
  LEFT JOIN ldr_nb nb USING (doc_id)""",
        "dup_spans": f"""
  WITH dsp_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  dsp_w AS (SELECT doc_id, i AS widx,
                   md5(array_to_string(toks[i:i+7], ' ')) AS whash
            FROM dsp_tok, unnest(CASE WHEN len(toks) >= 8
                 THEN generate_series(1, len(toks) - 7) ELSE [] END) AS u(i)),
  dsp_dup AS (SELECT whash FROM
                (SELECT whash, COUNT(*) AS c FROM dsp_w GROUP BY 1)
              WHERE c >= 2),
  dsp_dw AS (SELECT doc_id, widx FROM dsp_w JOIN dsp_dup USING (whash)),
  dsp_cov AS (SELECT doc_id, COUNT(DISTINCT pos) AS dup_tokens
              FROM (SELECT doc_id,
                           unnest(generate_series(widx, widx + 7)) AS pos
                    FROM dsp_dw) GROUP BY 1),
  dsp_ndw AS (SELECT doc_id, COUNT(*) AS n_dup_windows FROM dsp_dw GROUP BY 1),
  dsp_nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM dsp_w GROUP BY 1)
  SELECT d.doc_id,
         COALESCE(w.n_windows, 0) AS n_windows,
         COALESCE(dw.n_dup_windows, 0) AS n_dup_windows,
         COALESCE(c.dup_tokens, 0) AS dup_tokens,
         CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE)
           / CAST(len({_TOKS}) AS DOUBLE) AS dup_frac
  FROM documents d
  LEFT JOIN dsp_nw w USING (doc_id)
  LEFT JOIN dsp_ndw dw USING (doc_id)
  LEFT JOIN dsp_cov c USING (doc_id)""",
        # Bigram LM quality score: p = c2/c1 (one double division of
        # exact integers), per-doc sum on the floor(p*2^40) integer
        # grid, fixed-order final division — mirrors datapipe/lm.py.
        "lm_score": f"""
  WITH lm_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  lm_bg AS (SELECT doc_id,
                   unnest(CASE WHEN len(toks) >= 2
                          THEN list_transform(range(len(toks) - 1),
                               i -> toks[i + 1] || ' ' || toks[i + 2])
                          ELSE [] END) AS bg
            FROM lm_tok),
  lm_c2 AS (SELECT bg, COUNT(*) AS c2 FROM lm_bg GROUP BY 1),
  lm_c1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c2) AS c1
            FROM lm_c2 GROUP BY 1),
  lm_p AS (SELECT bg, CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
           FROM lm_c2 JOIN lm_c1 ON split_part(bg, ' ', 1) = w1),
  lm_sc AS (SELECT doc_id, COUNT(*) AS n,
                   CAST(SUM(CAST(floor(p * 1099511627776.0) AS BIGINT))
                        AS BIGINT) AS s
            FROM lm_bg JOIN lm_p USING (bg) GROUP BY 1)
  SELECT d.doc_id,
         COALESCE(n, 0) AS n_bigrams,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1099511627776.0 AS avg_p
  FROM documents d LEFT JOIN lm_sc USING (doc_id)""",
        # Deletion-neighborhood fuzzy join: candidates from a variant
        # equi-join (the SymSpell construction), exact levenshtein on
        # candidates only — mirrors operators/linkage.fuzzy_join_edit.
        "fuzzy_join_edit1": """
  WITH fz_l AS (SELECT c_custkey AS lid, lower(c_name) AS lname FROM customer),
  fz_rb AS (SELECT c_custkey AS rid, lower(c_name) AS s,
                   1 + (c_custkey % length(lower(c_name))) AS p FROM customer),
  fz_r AS (SELECT rid, substr(s, 1, p - 1) || substr(s, p + 1, length(s)) AS rname
           FROM fz_rb),
  fz_lv AS (SELECT lid, lname, unnest(list_distinct(list_prepend(lname,
                [substr(lname, 1, q - 1) || substr(lname, q + 1, length(lname))
                 for q in generate_series(1, length(lname))]))) AS v
            FROM fz_l),
  fz_rv AS (SELECT rid, rname, unnest(list_distinct(list_prepend(rname,
                [substr(rname, 1, q - 1) || substr(rname, q + 1, length(rname))
                 for q in generate_series(1, length(rname))]))) AS v
            FROM fz_r),
  fz_cand AS (SELECT DISTINCT lid, rid, lname, rname
              FROM fz_lv JOIN fz_rv USING (v))
  SELECT lid, rid, lname, rname,
         CAST(levenshtein(lname, rname) AS INT) AS dist
  FROM fz_cand WHERE levenshtein(lname, rname) <= 1""",
        # Shard = first-8-hex of the salted md5 mod 8; pos = rank under
        # the full-digest order within the shard (id tiebreak).
        "shard_assign": """
  WITH d AS (SELECT doc_id, source,
                    md5(CAST(doc_id AS VARCHAR) || '|') AS dg FROM documents)
  SELECT doc_id, source,
         CAST('0x' || substr(dg, 1, 8) AS BIGINT) % 8 AS shard,
         ROW_NUMBER() OVER (
           PARTITION BY CAST('0x' || substr(dg, 1, 8) AS BIGINT) % 8
           ORDER BY dg, doc_id) - 1 AS pos
  FROM d""",
        # Per-shard export manifest: counts, distinct sources, dense-pos
        # max, payload chars, file count at 1000 rows/file — the
        # sizing view of the same shard assignment.
        "shard_manifest": """
  WITH d AS (SELECT doc_id, source, text,
                    md5(CAST(doc_id AS VARCHAR) || '|') AS dg FROM documents),
  s AS (SELECT *,
               CAST('0x' || substr(dg, 1, 8) AS BIGINT) % 8 AS shard,
               ROW_NUMBER() OVER (
                 PARTITION BY CAST('0x' || substr(dg, 1, 8) AS BIGINT) % 8
                 ORDER BY dg, doc_id) - 1 AS pos
        FROM d)
  SELECT shard,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(MAX(pos) AS BIGINT) AS max_pos,
         CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
         CAST(ceil(COUNT(*) / 1000.0) AS BIGINT) AS n_files
  FROM s GROUP BY shard""",
        # Cross-modal composition: text quality gate + canonical-digest
        # exact dedup pick the surviving doc ids; the k-means/SemDeDup
        # CTE chains then run over `surv` (the filtered embeddings) —
        # outer CTEs are visible inside the nested WITH subqueries.
        "semantic_curation_e2e": f"""
  WITH sc_tok AS (SELECT doc_id, {_TOKS} AS toks, {_norm_expr()} AS nt FROM documents),
  sc_met AS (SELECT doc_id, md5(nt) AS dg,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(toks,
                 x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT)
                 AS n_stop
        FROM sc_tok),
  sc_gated AS (SELECT doc_id, dg FROM sc_met
            WHERE n_tokens >= 10
              AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.5),
  sc_reps AS (SELECT dg, MIN(doc_id) AS keep FROM sc_gated GROUP BY 1),
  sc_exact AS (SELECT g2.doc_id FROM sc_gated g2
            JOIN sc_reps r ON g2.dg = r.dg AND g2.doc_id = r.keep),
  surv AS (SELECT se.* FROM embeddings se JOIN sc_exact x ON se.vec_id = x.doc_id)
  SELECT k.vec_id AS doc_id, k.cluster_id, k.dist_sq,
         CAST(CASE WHEN s.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS kept
  FROM ({_kmeans_sql(src="surv")}) k
  LEFT JOIN ({_semantic_dedup_sql(src="surv")}) s ON k.vec_id = s.vec_id""",
        # Pareto frontier: the oracle is the textbook quadratic
        # NOT EXISTS dominance test over distinct points; the engine
        # never builds it (single-window sweep).
        "skyline_parts": """
  WITH sky_pts AS (SELECT p_brand, p_retailprice, p_size,
                          CAST(COUNT(*) AS BIGINT) AS n_rows
                   FROM part
                   WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
                   GROUP BY 1, 2, 3)
  SELECT p_brand, p_retailprice, p_size, n_rows FROM sky_pts r
  WHERE NOT EXISTS (
    SELECT 1 FROM sky_pts s
    WHERE s.p_brand = r.p_brand
      AND s.p_retailprice <= r.p_retailprice AND s.p_size >= r.p_size
      AND (s.p_retailprice < r.p_retailprice OR s.p_size > r.p_size))""",
        # Rank/CDF scaling: RANK ties are tie-stable so no arbitrary
        # order leaks; (rnk-1)/(n-1) is the single mirrored division.
        "cdf_normalize": """
  WITH cdf_r AS (SELECT o_orderkey, o_orderpriority,
           CAST(RANK() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice) AS BIGINT) AS rnk,
           CAST(COUNT(o_totalprice) OVER (
                             PARTITION BY o_orderpriority) AS BIGINT) AS n_group
         FROM orders)
  SELECT o_orderkey, o_orderpriority, rnk, n_group,
         CASE WHEN n_group = 1 THEN 0.0
              ELSE CAST(rnk - 1 AS DOUBLE) / CAST(n_group - 1 AS DOUBLE)
         END AS cdf
  FROM cdf_r""",
        # Cohort retention on integer epoch-weeks (days // 7) — immune
        # to the engines' conflicting week-truncation conventions.
        "cohort_retention": """
  WITH cr_a AS (SELECT DISTINCT user_id AS u,
                  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
                    AS week
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
  cr_t AS (SELECT u, week,
                  MIN(week) OVER (PARTITION BY u) AS cohort_week FROM cr_a),
  cr_c AS (SELECT cohort_week, week - cohort_week AS week_offset,
                  CAST(COUNT(*) AS BIGINT) AS n_active
           FROM cr_t GROUP BY 1, 2),
  cr_s AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
           FROM cr_t WHERE week = cohort_week GROUP BY 1)
  SELECT c.cohort_week, c.week_offset, c.n_active, s.n_cohort,
         CAST(c.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE) AS retention
  FROM cr_c c JOIN cr_s s USING (cohort_week)""",
        # Bigram PMI lift as the exact integer rational
        # c_xy*N_tok^2 / (N_big*c_x*c_y): one mirrored double division,
        # ranking == log-PMI ranking (log is monotone).
        "collocations": f"""
  WITH col_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  col_uni AS (SELECT unnest(toks) AS word FROM col_tok),
  col_uc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c_w
             FROM col_uni GROUP BY 1),
  col_nt AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_tok FROM col_uc),
  col_big AS (SELECT unnest(CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                       i -> array_to_string(list_slice(toks, i, i + 1), ' '))
                ELSE CAST([] AS VARCHAR[]) END) AS bigram FROM col_tok),
  col_bc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
             FROM col_big GROUP BY 1 HAVING COUNT(*) >= 3),
  col_nb AS (SELECT CAST(SUM(CASE WHEN len(toks) >= 2
                                  THEN len(toks) - 1 ELSE 0 END) AS BIGINT)
                      AS n_big FROM col_tok)
  SELECT b.bigram, b.c_xy, u1.c_w AS c_x, u2.c_w AS c_y,
         CAST(b.c_xy * t.n_tok * t.n_tok AS DOUBLE)
           / CAST(n.n_big * u1.c_w * u2.c_w AS DOUBLE) AS lift
  FROM col_bc b
  JOIN col_uc u1 ON u1.word = string_split(b.bigram, ' ')[1]
  JOIN col_uc u2 ON u2.word = string_split(b.bigram, ' ')[2]
  CROSS JOIN col_nt t CROSS JOIN col_nb n
  ORDER BY lift DESC, bigram LIMIT 30""",
        # Phrase retrieval: the oracle rescans each token list per row
        # (list_filter over positions) — a different algorithm than the
        # engine's positional-posting joins, same contract.
        "phrase_search": f"""
  WITH ph_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  ph_m AS (SELECT doc_id,
                  list_filter(range(1, len(toks)),
                    i -> toks[i] = 'order' AND toks[i + 1] = 'fast') AS hits
           FROM ph_tok)
  SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
         CAST(hits[1] AS BIGINT) AS first_pos
  FROM ph_m WHERE len(hits) > 0""",
        # Edit-distance self-join: the oracle IS the quadratic cross-join
        # + levenshtein the engine's deletion-variant blocking avoids.
        "edit_join": """
  WITH ej_base AS (SELECT c_custkey AS id, c_name AS s FROM customer
                   WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL),
  ej_tw AS (SELECT id + 10000000 AS id,
                   CASE WHEN id % 30 = 0 THEN s || 'X'
                        WHEN id % 30 = 10
                          THEN substr(s, 1, length(s) - 1) || 'X'
                        ELSE substr(s, 1, length(s) - 1) END AS s
            FROM ej_base WHERE id % 10 = 0),
  ej_u AS (SELECT * FROM ej_base UNION ALL SELECT * FROM ej_tw)
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
  FROM ej_u a JOIN ej_u b ON a.id < b.id
  WHERE levenshtein(a.s, b.s) <= 1""",
        # FD profiling: distinct dependents per determinant group, a
        # NULL dependent counting as ONE extra distinct marker (two
        # NULLs alone don't clash, but {NULL, 'x'} is a violation).
        "fd_violations": """
  WITH fd_p AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
  fd_g AS (SELECT user_id,
                  CAST(SUM(n) AS BIGINT) AS n_rows,
                  CAST(COUNT(event_type)
                       + SUM(CASE WHEN event_type IS NULL
                                  THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_distinct_dep,
                  MIN(event_type) AS dep_min,
                  MAX(event_type) AS dep_max
           FROM fd_p GROUP BY 1)
  SELECT * FROM fd_g WHERE n_distinct_dep > 1""",
        # k-anonymity / l-diversity over QI equivalence classes; the
        # l count rides a (QI, sensitive) pre-aggregate.
        "k_anonymity": """
  WITH ka_p AS (SELECT c_nationkey, c_mktsegment,
                       CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END
                         AS bal_sign,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM customer GROUP BY 1, 2, 3)
  SELECT c_nationkey, c_mktsegment,
         CAST(SUM(n) AS BIGINT) AS class_size,
         CAST(COUNT(bal_sign) AS BIGINT) AS l_diversity,
         CAST(CASE WHEN SUM(n) < 5 THEN 1 ELSE 0 END AS INT) AS violates_k
  FROM ka_p GROUP BY 1, 2""",
        # Dyadic EWMA: integer weighted sums (value on the 2^20 grid,
        # weights 1<<(7-lag)), one mirrored double division.
        "ewma_events": """
  WITH ew_e AS (SELECT user_id, event_id, ts, value,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, value, event_id) AS pos,
                  CAST(floor(value * 1048576.0) AS BIGINT) AS xg
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL
                  AND value IS NOT NULL),
  ew_l(i) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7)),
  ew_c AS (SELECT user_id, pos + i AS tpos,
                  xg * (1::BIGINT << (7 - i)) AS np,
                  (1::BIGINT << (7 - i)) AS wp
           FROM ew_e, ew_l),
  ew_s AS (SELECT user_id, tpos,
                  CAST(SUM(np) AS BIGINT) AS num,
                  CAST(SUM(wp) AS BIGINT) AS den
           FROM ew_c GROUP BY 1, 2)
  SELECT e.user_id, e.event_id, e.value,
         CAST(s.num AS DOUBLE) / CAST(s.den * 1048576 AS DOUBLE) AS ewma
  FROM ew_e e JOIN ew_s s ON s.user_id = e.user_id AND s.tpos = e.pos""",
        # SNM blocking: the oracle is the rank self-join the engine's
        # lead-array explode avoids.
        "sorted_neighborhood": """
  WITH snm_b AS (SELECT c_mktsegment AS seg, c_custkey AS id, c_name AS nm
                 FROM customer
                 WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL),
  snm_r AS (SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY seg ORDER BY nm, id) AS rn FROM snm_b)
  SELECT a.seg AS c_mktsegment, a.id AS id_a, b.id AS id_b,
         a.nm AS key_a, b.nm AS key_b
  FROM snm_r a JOIN snm_r b
    ON a.seg = b.seg AND b.rn > a.rn AND b.rn <= a.rn + 2""",
        # ER composition: quadratic levenshtein pair build feeding the
        # house recursive reachability fixpoint.
        "linkage_clusters_e2e": """
  WITH RECURSIVE lk_base AS (SELECT c_custkey AS id, c_name AS s FROM customer
                   WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL),
  lk_tw AS (SELECT id + 10000000 AS id,
                   CASE WHEN id % 30 = 0 THEN s || 'X'
                        WHEN id % 30 = 10
                          THEN substr(s, 1, length(s) - 1) || 'X'
                        ELSE substr(s, 1, length(s) - 1) END AS s
            FROM lk_base WHERE id % 10 = 0),
  lk_u AS (SELECT * FROM lk_base UNION ALL SELECT * FROM lk_tw),
  lk_p AS (SELECT a.id AS ia, b.id AS ib
           FROM lk_u a JOIN lk_u b ON a.id < b.id
           WHERE levenshtein(a.s, b.s) <= 1),
  lk_edges AS (SELECT ia AS src, ib AS dst FROM lk_p
               UNION ALL SELECT ib, ia FROM lk_p),
  lk_reach(node, r) AS (
    SELECT id, id FROM lk_u
    UNION
    SELECT e.src, lk_reach.r FROM lk_reach
    JOIN lk_edges e ON e.dst = lk_reach.node)
  SELECT node AS id, MIN(r) AS cluster_id FROM lk_reach GROUP BY node""",
        # Band join: the oracle is the quadratic per-user range join
        # the engine's bucket-neighbor blocking avoids.
        "band_join": """
  WITH bj AS (SELECT user_id, event_id,
                     date_diff('second', TIMESTAMP '1970-01-01', ts) AS v
              FROM events
              WHERE user_id IS NOT NULL AND event_id IS NOT NULL
                AND ts IS NOT NULL)
  SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
         CAST(abs(a.v - b.v) AS BIGINT) AS gap
  FROM bj a JOIN bj b
    ON a.user_id = b.user_id AND a.event_id < b.event_id
  WHERE abs(a.v - b.v) <= 600""",
        # Domain-level curation: per-source stopword mass gates whole
        # sources by integer cross-multiplication; docs survive by
        # source semi-join.
        "domain_quality_e2e": f"""
  WITH dq_d AS (SELECT doc_id, source,
                  CAST(len({_TOKS}) AS BIGINT) AS n_tok,
                  CAST(len(list_filter({_TOKS},
                    x -> x IN ('the','a','of','and','to'))) AS BIGINT)
                    AS n_stop
                FROM documents),
  dq_s AS (SELECT source,
                  CAST(COUNT(*) AS BIGINT) AS n_docs_src,
                  CAST(SUM(n_tok) AS BIGINT) AS tok_src,
                  CAST(SUM(n_stop) AS BIGINT) AS stop_src
           FROM dq_d GROUP BY 1),
  dq_g AS (SELECT * FROM dq_s WHERE stop_src * 1000 <= tok_src * 70)
  SELECT d.doc_id, d.source, d.n_tok, g.n_docs_src, g.tok_src, g.stop_src
  FROM dq_d d JOIN dq_g g ON d.source = g.source""",
        # Markov transitions: LEAD per user, (from, to) counts, the
        # from-total window runs over the state-squared frame only.
        "event_transitions": """
  WITH et_s AS (SELECT event_type AS from_state,
                  LEAD(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS to_state
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL
                  AND event_type IS NOT NULL),
  et_c AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
           FROM et_s WHERE to_state IS NOT NULL GROUP BY 1, 2)
  SELECT from_state, to_state, n,
         CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT) AS n_from,
         CAST(n AS DOUBLE)
           / CAST(SUM(n) OVER (PARTITION BY from_state) AS DOUBLE) AS prob
  FROM et_c""",
        # Column profile: one UNION ALL leg per column — the engine does
        # it in ONE Expand pass; the oracle re-scans per column.
        "table_profile": """
  SELECT 'o_orderpriority' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct,
         CAST(MIN(o_orderpriority) AS VARCHAR) AS min_str,
         CAST(MAX(o_orderpriority) AS VARCHAR) AS max_str
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
         CAST(MIN(o_orderstatus) AS VARCHAR) AS min_str,
         CAST(MAX(o_orderstatus) AS VARCHAR) AS max_str
  FROM orders
  UNION ALL
  SELECT 'o_custkey' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
         CAST(MIN(o_custkey) AS VARCHAR) AS min_str,
         CAST(MAX(o_custkey) AS VARCHAR) AS max_str
  FROM orders
  UNION ALL
  SELECT 'o_orderdate' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_distinct,
         CAST(MIN(o_orderdate) AS VARCHAR) AS min_str,
         CAST(MAX(o_orderdate) AS VARCHAR) AS max_str
  FROM orders""",
        # Running distinct: first-occurrence flag + running sum — the
        # standard rewrite of the unsupported COUNT(DISTINCT) OVER.
        "running_distinct": """
  WITH rd AS (SELECT user_id, event_id, ts, event_type,
                CASE WHEN event_type IS NOT NULL
                      AND ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                             ORDER BY ts, event_id) = 1
                     THEN 1 ELSE 0 END AS f
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL)
  SELECT user_id, event_id,
         CAST(SUM(f) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_distinct_so_far
  FROM rd""",
        # Gaps-and-islands: value - dense_rank is constant within a
        # consecutive run; duplicates advance neither.
        "islands": """
  WITH isl_d AS (SELECT user_id,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                     AS day_idx
                 FROM events
                 WHERE user_id IS NOT NULL AND ts IS NOT NULL),
  isl_g AS (SELECT user_id, day_idx,
                   day_idx - DENSE_RANK() OVER (PARTITION BY user_id
                                                ORDER BY day_idx) AS g
            FROM isl_d)
  SELECT user_id,
         CAST(MIN(day_idx) AS BIGINT) AS island_start,
         CAST(MAX(day_idx) AS BIGINT) AS island_end,
         CAST(COUNT(DISTINCT day_idx) AS BIGINT) AS n_values,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM isl_g GROUP BY user_id, g""",
        # LSH recall calibration: exact prefix-filtered Jaccard >= 1/2
        # pairs on 3-shingles vs the MinHash band candidates.
        "lsh_recall": f"""
  WITH {_minhash_pairs_cte()}
  , lr_w AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '\\s+'),
                                x -> x <> '') AS ws
             FROM documents),
  lr_t AS (SELECT DISTINCT doc_id,
                  ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]
                  || ' ' || ws[CAST(i AS INT) + 2] AS tok
           FROM lr_w, UNNEST(range(1, len(ws) - 1)) AS u(i)),
  lr_sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
            FROM lr_t GROUP BY 1),
  lr_f AS (SELECT tok, COUNT(*) AS tf FROM lr_t GROUP BY 1),
  lr_r AS (SELECT t.doc_id, t.tok, s.sz,
                  ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                     ORDER BY f.tf ASC, t.tok ASC) AS pos
           FROM lr_t t JOIN lr_f f ON t.tok = f.tok
           JOIN lr_sz s ON t.doc_id = s.doc_id),
  lr_p AS (SELECT doc_id, tok, sz FROM lr_r
           WHERE pos <= sz - ((sz * 1 + 1) // 2) + 1),
  lr_c AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sz AS size_a, b.sz AS size_b
           FROM lr_p a JOIN lr_p b
             ON a.tok = b.tok AND a.doc_id < b.doc_id
            AND b.sz * 2 >= a.sz * 1 AND a.sz * 2 >= b.sz * 1),
  lr_i AS (SELECT c.id_a, c.id_b, c.size_a, c.size_b,
                  CAST(COUNT(*) AS BIGINT) AS inter
           FROM lr_c c
           JOIN lr_t x ON x.doc_id = c.id_a
           JOIN lr_t y ON y.doc_id = c.id_b AND y.tok = x.tok
           GROUP BY 1, 2, 3, 4),
  lr_e AS (SELECT id_a, id_b FROM lr_i
           WHERE inter * 2 >= 1 * (size_a + size_b - inter)),
  lr_truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
                 CAST(COALESCE(SUM(CASE WHEN p.doc_id_a IS NOT NULL
                                        THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_caught
               FROM lr_e e LEFT JOIN pairs p
                 ON e.id_a = p.doc_id_a AND e.id_b = p.doc_id_b),
  lr_nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM pairs)
  SELECT t.n_true, c.n_candidates, t.n_caught,
         CASE WHEN t.n_true > 0
              THEN CAST(t.n_caught AS DOUBLE) / CAST(t.n_true AS DOUBLE)
         END AS recall
  FROM lr_truth t CROSS JOIN lr_nc c""",
        # GROUPING SETS: same margins in DuckDB syntax; gid encodes
        # which columns are margined (priority bit 0... Spark and
        # DuckDB agree on GROUPING() bit order: first listed column is
        # the most significant bit).
        "grouping_sets": """
  SELECT o_orderpriority, o_orderstatus,
         CAST(GROUPING(o_orderpriority) * 2
              + GROUPING(o_orderstatus) AS BIGINT) AS gid,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5)
                       AS HUGEINT)) AS BIGINT) AS total_cents
  FROM orders
  GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""",
        # Per-chunk language ID rollup; the majority pick is
        # max(struct(cnt, lang)) — lexicographic struct comparison is
        # identical in both engines; the per-chunk argmax mirrors
        # lang_id's en-before-es-before-de tie order.
        "lang_consistency": f"""
  WITH lc_tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  lc_c AS (SELECT doc_id,
                  list_slice(toks, CAST(cs AS INT) + 1,
                             CAST(cs AS INT) + 32) AS ctoks
           FROM lc_tok,
                UNNEST(range(0, len(toks), 24)) AS u(cs)),
  lc_s AS (SELECT doc_id,
             len(list_filter(ctoks, x -> x IN ('the', 'a', 'of'))) AS s_en,
             len(list_filter(ctoks, x -> x IN ('el', 'la', 'los'))) AS s_es,
             len(list_filter(ctoks, x -> x IN ('der', 'und', 'das'))) AS s_de
           FROM lc_c),
  lc_p AS (SELECT doc_id,
             CASE WHEN s_es > s_en AND s_es >= s_de THEN 'es'
                  WHEN s_de > s_en AND s_de > s_es THEN 'de'
                  ELSE 'en' END AS pred FROM lc_s),
  lc_g AS (SELECT doc_id, pred, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM lc_p GROUP BY 1, 2),
  lc_d AS (SELECT doc_id,
                  CAST(SUM(cnt) AS BIGINT) AS n_chunks,
                  CAST(COUNT(*) AS BIGINT) AS n_langs,
                  MAX(struct_pack(cnt := cnt, pred := pred)) AS m
           FROM lc_g GROUP BY 1)
  SELECT doc_id, n_chunks, n_langs,
         m.pred AS majority_lang,
         CAST(m.cnt AS DOUBLE) / CAST(n_chunks AS DOUBLE) AS majority_share,
         CAST(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END AS INT) AS is_mixed
  FROM lc_d""",
        # Cross-corpus linkage: the oracle is the full quadratic A x B
        # levenshtein cross join the deletion-variant R-S join avoids.
        "edit_join_two": """
  WITH ej2_a AS (SELECT c_custkey AS id, c_name AS s FROM customer
                 WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL),
  ej2_b AS (SELECT id,
                   CASE WHEN id % 30 = 0 THEN s || 'X'
                        WHEN id % 30 = 10
                          THEN substr(s, 1, length(s) - 1) || 'X'
                        ELSE substr(s, 1, length(s) - 1) END AS s
            FROM ej2_a WHERE id % 10 = 0)
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
  FROM ej2_a a JOIN ej2_b b ON levenshtein(a.s, b.s) <= 1""",
        # Int8-quantized top-k: floor(127*x/||v||) per component (one
        # sqrt + one division in mirrored order, floor lands on an
        # integer), then an exact BIGINT dot — no float in the result.
        "quantized_topk": f"""
  WITH qt_e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
  qt_n AS (SELECT vec_id, v,
                  sqrt({_COS_DOT.format(a="v", b="v")}) AS nrm FROM qt_e),
  qt_q AS (SELECT vec_id,
                  list_transform(v, x -> CAST(CASE WHEN nrm > 0
                    THEN floor(127.0 * (x / nrm)) ELSE 0 END AS BIGINT))
                    AS qv
           FROM qt_n),
  qt_p AS (SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
                  CAST(list_reduce(
                    list_transform(range(len(q.qv)),
                                   i -> q.qv[i + 1] * c.qv[i + 1]),
                    (x, y) -> x + y) AS BIGINT) AS qdot
           FROM qt_q q JOIN qt_q c
             ON q.vec_id < 40 AND c.vec_id != q.vec_id)
  SELECT vec_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY qdot DESC, neighbor_id) AS BIGINT)
           AS sim_rank,
         qdot
  FROM qt_p
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY qdot DESC, neighbor_id) <= 5""",
        # Negative sampling: md5-ring lead/lag peeks mirrored column
        # for column; the candidate list is BUILT in ord order, so the
        # Spark side's filter->sort->slice equals filter->slice here.
        "negative_samples": """
  WITH ns_b AS (SELECT vec_id AS id, label,
                       md5(CAST(vec_id AS VARCHAR) || '|') AS dg
                FROM embeddings
                WHERE vec_id IS NOT NULL AND label IS NOT NULL),
  ns_k AS (SELECT *, CAST('0x' || substring(dg, 1, 8) AS BIGINT) % 16
                       AS bkt FROM ns_b),
  ns_p AS (SELECT id, label,
                  LEAD(id, 1) OVER wns AS nid_1,
                  LEAD(label, 1) OVER wns AS nlab_1,
                  LAG(id, 1) OVER wns AS nid_9,
                  LAG(label, 1) OVER wns AS nlab_9,
                  LEAD(id, 2) OVER wns AS nid_2,
                  LEAD(label, 2) OVER wns AS nlab_2,
                  LAG(id, 2) OVER wns AS nid_10,
                  LAG(label, 2) OVER wns AS nlab_10,
                  LEAD(id, 3) OVER wns AS nid_3,
                  LEAD(label, 3) OVER wns AS nlab_3,
                  LAG(id, 3) OVER wns AS nid_11,
                  LAG(label, 3) OVER wns AS nlab_11,
                  LEAD(id, 4) OVER wns AS nid_4,
                  LEAD(label, 4) OVER wns AS nlab_4,
                  LAG(id, 4) OVER wns AS nid_12,
                  LAG(label, 4) OVER wns AS nlab_12,
                  LEAD(id, 5) OVER wns AS nid_5,
                  LEAD(label, 5) OVER wns AS nlab_5,
                  LAG(id, 5) OVER wns AS nid_13,
                  LAG(label, 5) OVER wns AS nlab_13,
                  LEAD(id, 6) OVER wns AS nid_6,
                  LEAD(label, 6) OVER wns AS nlab_6,
                  LAG(id, 6) OVER wns AS nid_14,
                  LAG(label, 6) OVER wns AS nlab_14,
                  LEAD(id, 7) OVER wns AS nid_7,
                  LEAD(label, 7) OVER wns AS nlab_7,
                  LAG(id, 7) OVER wns AS nid_15,
                  LAG(label, 7) OVER wns AS nlab_15,
                  LEAD(id, 8) OVER wns AS nid_8,
                  LEAD(label, 8) OVER wns AS nlab_8,
                  LAG(id, 8) OVER wns AS nid_16,
                  LAG(label, 8) OVER wns AS nlab_16
           FROM ns_k
           WINDOW wns AS (PARTITION BY bkt ORDER BY dg ASC, id ASC)),
  ns_f AS (SELECT id, label,
             list_slice(list_filter([
               struct_pack(ord := 1, nid := nid_1, nlab := nlab_1),
               struct_pack(ord := 2, nid := nid_2, nlab := nlab_2),
               struct_pack(ord := 3, nid := nid_3, nlab := nlab_3),
               struct_pack(ord := 4, nid := nid_4, nlab := nlab_4),
               struct_pack(ord := 5, nid := nid_5, nlab := nlab_5),
               struct_pack(ord := 6, nid := nid_6, nlab := nlab_6),
               struct_pack(ord := 7, nid := nid_7, nlab := nlab_7),
               struct_pack(ord := 8, nid := nid_8, nlab := nlab_8),
               struct_pack(ord := 9, nid := nid_9, nlab := nlab_9),
               struct_pack(ord := 10, nid := nid_10, nlab := nlab_10),
               struct_pack(ord := 11, nid := nid_11, nlab := nlab_11),
               struct_pack(ord := 12, nid := nid_12, nlab := nlab_12),
               struct_pack(ord := 13, nid := nid_13, nlab := nlab_13),
               struct_pack(ord := 14, nid := nid_14, nlab := nlab_14),
               struct_pack(ord := 15, nid := nid_15, nlab := nlab_15),
               struct_pack(ord := 16, nid := nid_16, nlab := nlab_16)
             ], s -> s.nid IS NOT NULL AND s.nlab != label), 1, 3) AS kept
           FROM ns_p)
  SELECT id AS anchor_id, label AS anchor_label,
         CAST(len(kept) AS BIGINT) AS n_negatives,
         CAST(u.i AS BIGINT) AS neg_rank,
         kept[CAST(u.i AS INT)].nid AS neg_id,
         kept[CAST(u.i AS INT)].nlab AS neg_label
  FROM ns_f, UNNEST(range(1, len(kept) + 1)) AS u(i)
  UNION ALL
  SELECT id, label, 0, NULL, NULL, NULL FROM ns_f WHERE len(kept) = 0""",
        # Exact tie-aware ROC AUC per group: doubled midranks off a
        # per-group cumulative count, AUC = 2U/(2·np·nq) in one
        # division (stats.roc_auc).
        "roc_auc": """
  WITH ra_f AS (SELECT event_type AS g, value AS v,
                       CAST(event_id % 2 <> 0 AS HUGEINT) AS p,
                       CAST(event_id % 2 = 0 AS HUGEINT) AS q
                FROM events WHERE value IS NOT NULL),
  ra_v AS (SELECT g, v, sum(p) AS cp, sum(q) AS cq,
                  sum(p) + sum(q) AS ct
           FROM ra_f GROUP BY 1, 2),
  ra_c AS (SELECT g, cp, cq, ct,
                  sum(ct) OVER (PARTITION BY g ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cumt
           FROM ra_v),
  ra_a AS (SELECT g, sum(cp) AS np, sum(cq) AS nq,
                  sum(cp * (2 * (cumt - ct) + ct + 1)) AS r2p
           FROM ra_c GROUP BY 1)
  SELECT g AS event_type,
         CAST(np AS BIGINT) AS n_pos, CAST(nq AS BIGINT) AS n_neg,
         CASE WHEN np > 0 AND nq > 0 THEN
           CAST(r2p - np * (np + 1) AS DOUBLE)
           / (2.0 * CAST(np * nq AS DOUBLE)) END AS auc
  FROM ra_a""",
        # Per-user ACF at lags 1..3: lead() per key, exact HUGEINT
        # moments, one division per lag (timeseries.acf_lags).
        "acf_lags": """
  WITH ac_b AS (SELECT user_id, event_id,
                       CAST(floor(value) AS HUGEINT) AS x
                FROM events WHERE value IS NOT NULL),
  ac_l AS (SELECT user_id, x,
                  LEAD(x, 1) OVER w AS x1,
                  LEAD(x, 2) OVER w AS x2,
                  LEAD(x, 3) OVER w AS x3
           FROM ac_b
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
  ac_a AS (SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
                  sum(x) AS s, sum(x * x) AS sxx,
                  sum(x * x1) AS c1,
                  sum(CASE WHEN x1 IS NOT NULL THEN x + x1 END) AS p1,
                  sum(x * x2) AS c2,
                  sum(CASE WHEN x2 IS NOT NULL THEN x + x2 END) AS p2,
                  sum(x * x3) AS c3,
                  sum(CASE WHEN x3 IS NOT NULL THEN x + x3 END) AS p3
           FROM ac_l GROUP BY 1),
  ac_u AS (
    SELECT user_id, 1 AS lag, n, s, sxx, c1 AS cr, p1 AS pr FROM ac_a
    UNION ALL
    SELECT user_id, 2, n, s, sxx, c2, p2 FROM ac_a
    UNION ALL
    SELECT user_id, 3, n, s, sxx, c3, p3 FROM ac_a)
  SELECT user_id, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
         CASE WHEN n > lag
                   AND CAST(n * (n * sxx - s * s) AS DOUBLE) > 0 THEN
           CAST(n * n * cr - n * s * pr + (n - lag) * s * s AS DOUBLE)
           / CAST(n * (n * sxx - s * s) AS DOUBLE) END AS acf
  FROM ac_u""",
        # Rational-idf BM25 (k1=6/5, b=3/4 cleared to one HUGEINT
        # ratio per (doc, term)); per-doc total is the fixed
        # written-order coalesce sum over the sorted query terms
        # (text.bm25_topk).
        "bm25_topk": f"""
  WITH bm_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  bm_l AS (SELECT doc_id, CAST(len(toks) AS HUGEINT) AS dl FROM bm_t),
  bm_c AS (SELECT CAST(count(*) AS HUGEINT) AS nn, sum(dl) AS ss
           FROM bm_l),
  bm_e AS (SELECT doc_id, UNNEST(toks) AS term FROM bm_t),
  bm_tf AS (SELECT doc_id, term, CAST(count(*) AS HUGEINT) AS tf
            FROM bm_e WHERE term IN ('spark', 'table', 'window')
            GROUP BY 1, 2),
  bm_df AS (SELECT term, CAST(count(*) AS HUGEINT) AS dfv
            FROM bm_tf GROUP BY 1),
  bm_s AS (SELECT f.doc_id, f.term,
                  CAST((2 * c.nn - 2 * d.dfv + 1) * 22 * c.ss * f.tf
                       AS DOUBLE)
                  / CAST((2 * d.dfv + 1)
                         * (10 * c.ss * f.tf + 3 * c.ss
                            + 9 * l.dl * c.nn) AS DOUBLE) AS s
           FROM bm_tf f
           JOIN bm_df d USING (term)
           JOIN bm_l l USING (doc_id)
           CROSS JOIN bm_c c),
  bm_p AS (SELECT doc_id,
                  max(CASE WHEN term = 'spark' THEN s END) AS s0,
                  max(CASE WHEN term = 'table' THEN s END) AS s1,
                  max(CASE WHEN term = 'window' THEN s END) AS s2,
                  CAST(count(*) AS BIGINT) AS n_terms
           FROM bm_s GROUP BY 1)
  SELECT doc_id,
         COALESCE(s0, 0.0) + COALESCE(s1, 0.0) + COALESCE(s2, 0.0)
           AS score,
         n_terms
  FROM bm_p ORDER BY score DESC, doc_id ASC LIMIT 20""",
        # NDCG@10 per source: literal-double discounts (same Python
        # floats the Spark plan embeds), fixed written-order DCG/IDCG
        # sums, one division (text.ndcg_at_k).
        "ndcg": _ndcg_oracle_sql(),
        # Per-class confusion metrics off one (label, pred) cross-tab;
        # exact counts, single divisions, fixed-order f1
        # (classify.confusion_metrics).
        "confusion_metrics": """
  WITH cm_b AS (SELECT CAST(label AS BIGINT) AS l, vec_id % 10 AS p
                FROM embeddings WHERE label IS NOT NULL),
  cm_x AS (SELECT l, p, CAST(count(*) AS BIGINT) AS n
           FROM cm_b GROUP BY 1, 2),
  cm_l AS (SELECT l AS class,
                  sum(CASE WHEN l = p THEN n ELSE 0 END) AS tp_l,
                  sum(CASE WHEN l <> p THEN n ELSE 0 END) AS fn
           FROM cm_x GROUP BY 1),
  cm_p AS (SELECT p AS class,
                  sum(CASE WHEN l = p THEN n ELSE 0 END) AS tp_p,
                  sum(CASE WHEN l <> p THEN n ELSE 0 END) AS fp
           FROM cm_x GROUP BY 1),
  cm_j AS (SELECT COALESCE(l.class, p.class) AS class,
                  CAST(COALESCE(l.tp_l, p.tp_p, 0) AS BIGINT) AS tp,
                  CAST(COALESCE(p.fp, 0) AS BIGINT) AS fp,
                  CAST(COALESCE(l.fn, 0) AS BIGINT) AS fn
           FROM cm_l l FULL OUTER JOIN cm_p p ON l.class = p.class),
  cm_m AS (SELECT class, tp, fp, fn,
                  CASE WHEN tp + fp > 0 THEN
                    CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                  END AS prec,
                  CASE WHEN tp + fn > 0 THEN
                    CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                  END AS rec
           FROM cm_j)
  SELECT class, tp, fp, fn,
         prec AS "precision", rec AS recall,
         CASE WHEN prec IS NOT NULL AND rec IS NOT NULL
                   AND prec + rec > 0
              THEN 2.0 * prec * rec / (prec + rec) END AS f1
  FROM cm_m""",
        # Exact 1-D Wasserstein-1 on the cent grid: per-segment
        # |cumA·nb − cumB·na|·gap in HUGEINT, one division
        # (stats.wasserstein_1d).
        "wasserstein": """
  WITH wa_f AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
                       CAST(event_type = 'click' AS HUGEINT) AS a,
                       CAST(event_type = 'view' AS HUGEINT) AS b
                FROM events
                WHERE event_type IN ('click', 'view')
                  AND value IS NOT NULL),
  wa_v AS (SELECT v, sum(a) AS ca, sum(b) AS cb FROM wa_f GROUP BY 1),
  wa_c AS (SELECT v,
                  sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
                  LEAD(v) OVER (ORDER BY v) AS nextv
           FROM wa_v
           WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
  wa_t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM wa_v),
  wa_s AS (SELECT na, nb,
                  COALESCE(sum(CASE WHEN nextv IS NOT NULL THEN
                    abs(cuma * nb - cumb * na)
                    * (CAST(nextv AS HUGEINT) - v) END), 0) AS w1n
           FROM wa_c CROSS JOIN wa_t GROUP BY na, nb)
  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         CAST(w1n AS BIGINT) AS w1_num,
         CASE WHEN na > 0 AND nb > 0 THEN
           CAST(w1n AS DOUBLE) / CAST(na * nb AS DOUBLE) END AS w1
  FROM wa_s""",
        # Log-free Simpson diversity per source: exact repeat
        # probability and effective type count
        # (text.simpson_diversity).
        "simpson_diversity": f"""
  WITH sd_e AS (SELECT source, UNNEST({_TOKS}) AS t FROM documents),
  sd_c AS (SELECT source, t, CAST(count(*) AS HUGEINT) AS c
           FROM sd_e GROUP BY 1, 2),
  sd_a AS (SELECT source, sum(c) AS n,
                  CAST(count(*) AS BIGINT) AS n_types,
                  sum(c * (c - 1)) AS ss
           FROM sd_c GROUP BY 1)
  SELECT source, CAST(n AS BIGINT) AS n_tokens, n_types,
         CASE WHEN n > 1 THEN
           1.0 - CAST(ss AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
         END AS simpson,
         CASE WHEN n > 1 AND ss > 0 THEN
           CAST(n * (n - 1) AS DOUBLE) / CAST(ss AS DOUBLE)
         END AS inv_simpson
  FROM sd_a""",
        # Binary-relevance ranking scorecard per source: first-relevant
        # rank, RR, hits@10, precision@10, recall@10
        # (text.retrieval_metrics).
        "retrieval_metrics": """
  WITH rm_b AS (SELECT source, doc_id,
                       CAST(((doc_id % 80) // 20) >= 2 AS BIGINT) AS r,
                       n_chars AS sc
                FROM documents),
  rm_r AS (SELECT source, r,
             row_number() OVER (PARTITION BY source
                                ORDER BY sc DESC, doc_id ASC) AS rk
           FROM rm_b),
  rm_a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_items,
                  CAST(sum(r) AS BIGINT) AS n_rel,
                  CAST(min(CASE WHEN r = 1 THEN rk END) AS BIGINT)
                    AS first_rel_rank,
                  CAST(sum(CASE WHEN rk <= 10 THEN r ELSE 0 END)
                       AS BIGINT) AS hits_at_k
           FROM rm_r GROUP BY 1)
  SELECT source, n_items, n_rel, first_rel_rank,
         CASE WHEN first_rel_rank IS NOT NULL THEN
           CAST(1.0 AS DOUBLE) / CAST(first_rel_rank AS DOUBLE)
         END AS rr,
         hits_at_k,
         CAST(hits_at_k AS DOUBLE) / CAST(10 AS DOUBLE)
           AS precision_at_k,
         CASE WHEN n_rel > 0 THEN
           CAST(hits_at_k AS DOUBLE) / CAST(n_rel AS DOUBLE)
         END AS recall_at_k
  FROM rm_a""",
        # Seed-set harmonic centrality: per-seed unrolled BFS,
        # lcm-cleared reciprocals (graph.harmonic_centrality).
        "harmonic_centrality": _harmonic_sql(3, 6),
        # Pairwise source-vocabulary Jaccard off the distinct
        # (group, term) grain (text.vocab_overlap).
        "vocab_overlap": f"""
  WITH vo_e AS (SELECT source AS g, UNNEST({_TOKS}) AS t
                FROM documents),
  vo_v AS (SELECT DISTINCT g, t FROM vo_e),
  vo_s AS (SELECT g, CAST(count(*) AS BIGINT) AS n
           FROM vo_v GROUP BY 1),
  vo_i AS (SELECT a.g AS group_a, b.g AS group_b,
                  CAST(count(*) AS BIGINT) AS n_inter
           FROM vo_v a JOIN vo_v b ON a.t = b.t AND a.g < b.g
           GROUP BY 1, 2)
  SELECT i.group_a, i.group_b, sa.n AS n_a, sb.n AS n_b, i.n_inter,
         CAST(i.n_inter AS DOUBLE)
           / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) AS jaccard
  FROM vo_i i
  JOIN vo_s sa ON i.group_a = sa.g
  JOIN vo_s sb ON i.group_b = sb.g""",
        # Smoothed target encoding: integer-cleared prior, one division
        # (classify.target_encode, m=10).
        "target_encode": """
  WITH te_b AS (SELECT o_orderpriority,
                       CAST(floor(o_totalprice) AS HUGEINT) AS y
                FROM orders WHERE o_totalprice IS NOT NULL),
  te_c AS (SELECT o_orderpriority, CAST(count(*) AS HUGEINT) AS n,
                  sum(y) AS sy
           FROM te_b GROUP BY 1),
  te_t AS (SELECT CAST(count(*) AS HUGEINT) AS nn, sum(y) AS syy
           FROM te_b)
  SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
         CAST(sy AS BIGINT) AS sum_y,
         CASE WHEN nn * (n + 10) > 0 THEN
           CAST(nn * sy + 10 * syy AS DOUBLE)
           / CAST(nn * (n + 10) AS DOUBLE) END AS encoding
  FROM te_c CROSS JOIN te_t""",
        # Welch's t + Satterthwaite df from exact HUGEINT moments; the
        # float tail mirrors the operator's written op order exactly
        # (stats.welch_t).
        "welch_t": """
  WITH wt_f AS (SELECT CAST(floor(value) AS HUGEINT) AS x,
                       event_type = 'click' AS ia,
                       event_type = 'view' AS ib
                FROM events
                WHERE event_type IN ('click', 'view')
                  AND value IS NOT NULL),
  wt_a AS (SELECT sum(CAST(ia AS HUGEINT)) AS na,
                  sum(CAST(ib AS HUGEINT)) AS nb,
                  sum(CASE WHEN ia THEN x END) AS sa,
                  sum(CASE WHEN ib THEN x END) AS sb,
                  sum(CASE WHEN ia THEN x * x END) AS saa,
                  sum(CASE WHEN ib THEN x * x END) AS sbb
           FROM wt_f),
  wt_d AS (SELECT na, nb,
                  CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
                  CAST(na * saa - sa * sa AS DOUBLE) AS van,
                  CAST(nb * sbb - sb * sb AS DOUBLE) AS vbn,
                  CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd
           FROM wt_a),
  wt_r AS (SELECT na, nb, nad, nbd,
                  van / (nad * (nad - 1.0) * nad) AS ra,
                  vbn / (nbd * (nbd - 1.0) * nbd) AS rb,
                  sad / nad AS mean_a, sbd / nbd AS mean_b
           FROM wt_d)
  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         CASE WHEN na > 0 THEN mean_a END AS mean_a,
         CASE WHEN nb > 0 THEN mean_b END AS mean_b,
         CASE WHEN na > 1 AND nb > 1 AND ra + rb > 0 THEN
           (mean_a - mean_b) / sqrt(ra + rb) END AS t,
         CASE WHEN na > 1 AND nb > 1 AND ra + rb > 0 THEN
           (ra + rb) * (ra + rb)
           / (ra * ra / (nad - 1.0) + rb * rb / (nbd - 1.0)) END AS df
  FROM wt_r""",
        # Distance-2 non-edge link scores off one wedge self-join:
        # common neighbors, neighborhood Jaccard, preferential
        # attachment (graph.link_prediction, min_common=2).
        "link_prediction": """
  WITH lpu AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
  lpe AS (SELECT src AS a, dst AS b FROM lpu
          UNION ALL SELECT dst, src FROM lpu),
  lpd AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
          FROM lpe GROUP BY 1),
  lpc AS (SELECT b AS z, a AS n FROM lpe),
  lpw AS (SELECT l.n AS node_a, r.n AS node_b
          FROM lpc l JOIN lpc r ON l.z = r.z AND l.n < r.n),
  lpcn AS (SELECT node_a, node_b, CAST(count(*) AS BIGINT)
             AS common_neighbors
           FROM lpw GROUP BY 1, 2 HAVING count(*) >= 2),
  lpne AS (SELECT c.node_a, c.node_b, c.common_neighbors
           FROM lpcn c LEFT JOIN lpe e
             ON c.node_a = e.a AND c.node_b = e.b
           WHERE e.a IS NULL)
  SELECT ne.node_a, ne.node_b, ne.common_neighbors,
         da.deg AS deg_a, db.deg AS deg_b,
         CAST(ne.common_neighbors AS DOUBLE)
           / CAST(da.deg + db.deg - ne.common_neighbors AS DOUBLE)
           AS jaccard,
         CAST(da.deg * db.deg AS BIGINT) AS pref_attachment
  FROM lpne ne
  JOIN lpd da ON ne.node_a = da.node
  JOIN lpd db ON ne.node_b = db.node""",
        # 2x2 difference-in-differences: four exact HUGEINT cells, one
        # fixed written-order contrast (stats.diff_in_diff).
        "diff_in_diff": """
  WITH dd_f AS (SELECT CAST(floor(value) AS HUGEINT) AS x,
                       event_type = 'click' AS t,
                       month(ts) > 6 AS p
                FROM events
                WHERE event_type IN ('click', 'view')
                  AND value IS NOT NULL),
  dd_a AS (SELECT
             sum(CAST(t AND NOT p AS HUGEINT)) AS ntpre,
             sum(CASE WHEN t AND NOT p THEN x END) AS stpre,
             sum(CAST(t AND p AS HUGEINT)) AS ntpost,
             sum(CASE WHEN t AND p THEN x END) AS stpost,
             sum(CAST(NOT t AND NOT p AS HUGEINT)) AS ncpre,
             sum(CASE WHEN NOT t AND NOT p THEN x END) AS scpre,
             sum(CAST(NOT t AND p AS HUGEINT)) AS ncpost,
             sum(CASE WHEN NOT t AND p THEN x END) AS scpost
           FROM dd_f),
  dd_m AS (SELECT *,
             CASE WHEN ntpre > 0 THEN CAST(stpre AS DOUBLE)
               / CAST(ntpre AS DOUBLE) END AS mean_tpre,
             CASE WHEN ntpost > 0 THEN CAST(stpost AS DOUBLE)
               / CAST(ntpost AS DOUBLE) END AS mean_tpost,
             CASE WHEN ncpre > 0 THEN CAST(scpre AS DOUBLE)
               / CAST(ncpre AS DOUBLE) END AS mean_cpre,
             CASE WHEN ncpost > 0 THEN CAST(scpost AS DOUBLE)
               / CAST(ncpost AS DOUBLE) END AS mean_cpost
           FROM dd_a)
  SELECT CAST(COALESCE(ntpre, 0) AS BIGINT) AS n_tpre,
         CAST(COALESCE(ntpost, 0) AS BIGINT) AS n_tpost,
         CAST(COALESCE(ncpre, 0) AS BIGINT) AS n_cpre,
         CAST(COALESCE(ncpost, 0) AS BIGINT) AS n_cpost,
         mean_tpre, mean_tpost, mean_cpre, mean_cpost,
         (mean_tpost - mean_tpre) - (mean_cpost - mean_cpre) AS did
  FROM dd_m""",
        # Columnar dictionary-encoding advisor (stats.encoding_advisor):
        # per-column exact byte/NDV facts, integer code bits.
        "encoding_advisor": _encoding_advisor_sql(
            ["lang", "source", "text"]
        ),
        # Quantile normalization click -> view on the dollar grid
        # (stats.quantile_match): integer nearest-rank index, interval
        # lookup (the oracle may band-join; the engine may not).
        "quantile_match": """
  WITH qm_b AS (SELECT CAST(floor(value) AS BIGINT) AS v, event_type
                FROM events
                WHERE event_type IN ('click', 'view')
                  AND value IS NOT NULL),
  qm_s AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM qm_b
           WHERE event_type = 'click' GROUP BY 1),
  qm_t AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM qm_b
           WHERE event_type = 'view' GROUP BY 1),
  qm_n AS (SELECT CAST(sum(CAST(event_type = 'click' AS BIGINT))
                       AS BIGINT) AS ns,
                  CAST(sum(CAST(event_type = 'view' AS BIGINT))
                       AS BIGINT) AS nt
           FROM qm_b),
  qm_sr AS (SELECT v, c,
                   CAST(sum(c) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM qm_s),
  qm_tr AS (SELECT v, c,
                   CAST(sum(c) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM qm_t),
  qm_src AS (SELECT v AS value, c AS n, cum - c + 1 AS rank,
                    CAST(CASE WHEN ns > 1 THEN
                          ((cum - c) * (nt - 1)) // (ns - 1)
                         ELSE 0 END + 1 AS BIGINT) AS target_idx
             FROM qm_sr CROSS JOIN qm_n),
  qm_pos AS (SELECT v AS mapped, cum - c + 1 AS lo, cum AS hi
             FROM qm_tr)
  SELECT s.value, s.n, s.rank, s.target_idx, p.mapped
  FROM qm_src s LEFT JOIN qm_pos p
    ON s.target_idx BETWEEN p.lo AND p.hi""",
        # Budget-constrained uniform capping (curation.token_waterfill,
        # budget=25000): segment levels via double-division floor
        # (mirrors the engine's op order exactly; DuckDB's // on
        # negatives is not relied on), smallest-valid-segment pick via
        # filtered arg_min.
        "token_waterfill": f"""
  WITH wfw AS (SELECT source,
                      CAST(sum(len({_TOKS})) AS BIGINT) AS w
               FROM documents GROUP BY 1),
  wfr AS (SELECT source, w,
            row_number() OVER (ORDER BY w ASC, source ASC) AS i,
            CAST(sum(w) OVER (ORDER BY w ASC, source ASC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx,
            count(*) OVER () AS k
          FROM wfw),
  wfc AS (SELECT i, w,
            CAST(floor(CAST(25000 - (pfx - w) AS DOUBLE)
                 / CAST(k - i + 1 AS DOUBLE)) AS BIGINT) AS lvl,
            max(w) OVER () AS wmax
          FROM wfr),
  wfcap AS (SELECT CAST(COALESCE(
              arg_min(lvl, i) FILTER (WHERE lvl < w),
              max(wmax)) AS BIGINT) AS cap
            FROM wfc),
  wfo AS (SELECT g.source, g.w AS weight,
            CAST(greatest(c.cap, 0) AS BIGINT) AS cap,
            CAST(least(g.w, greatest(c.cap, 0)) AS BIGINT) AS selected,
            CAST(g.w - least(g.w, greatest(c.cap, 0)) AS BIGINT) AS cut
          FROM wfw g CROSS JOIN wfcap c),
  wfl AS (SELECT CAST(25000 - sum(selected) AS BIGINT) AS leftover
          FROM wfo)
  SELECT o.source, o.weight, o.cap, o.selected, o.cut, l.leftover
  FROM wfo o CROSS JOIN wfl l""",
        # Frame sampling + thumbnail in hex space (multimodal
        # .sample_frames/.decode_and_resize): DuckDB blobs lack
        # substring/md5, so the comparable form is hex(encode(text)) —
        # hex of a byte slice equals the aligned slice of the hex.
        "multimodal_frames": """
  WITH mf AS (SELECT doc_id, hex(encode(text)) AS h,
                     octet_length(encode(text)) AS n
              FROM documents),
  fx AS (SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
                substring(h, CAST(u.i * 128 + 1 AS BIGINT), 128) AS fh
         FROM mf,
              UNNEST(range(0, least(4, greatest(1, n // 64)))) AS u(i))
  SELECT f.doc_id, f.frame_idx,
         CAST(length(f.fh) // 2 AS BIGINT) AS n_frame_bytes,
         lower(f.fh) AS frame_hex,
         lower(substring(m.h, 1, 128)) AS thumb_hex
  FROM fx f JOIN mf m USING (doc_id)""",
        # Exact-integer Cohen's kappa (classify.cohens_kappa):
        # kappa = (n*agree - sum r_c*s_c) / (n^2 - sum r_c*s_c).
        "cohens_kappa": """
  WITH ck_b AS (SELECT source AS g, lang AS a,
                       CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS b
                FROM documents WHERE lang IS NOT NULL),
  ck_t AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
                  CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END)
                       AS HUGEINT) AS agree
           FROM ck_b GROUP BY 1),
  ck_ra AS (SELECT g, a AS cat, CAST(count(*) AS HUGEINT) AS r
            FROM ck_b GROUP BY 1, 2),
  ck_rb AS (SELECT g, b AS cat, CAST(count(*) AS HUGEINT) AS s
            FROM ck_b GROUP BY 1, 2),
  ck_p AS (SELECT COALESCE(x.g, y.g) AS g,
                  sum(COALESCE(x.r, 0) * COALESCE(y.s, 0)) AS pe
           FROM ck_ra x FULL OUTER JOIN ck_rb y
             ON x.g = y.g AND x.cat = y.cat
           GROUP BY 1)
  SELECT t.g AS source,
         CAST(t.n AS BIGINT) AS n_items,
         CAST(t.agree AS BIGINT) AS n_agree,
         CASE WHEN t.n * t.n - p.pe <> 0 THEN
           CAST(t.n * t.agree - p.pe AS DOUBLE)
           / CAST(t.n * t.n - p.pe AS DOUBLE) END AS kappa
  FROM ck_t t JOIN ck_p p ON t.g = p.g""",
        # McNemar's paired test (classify.mcnemar_test): exact
        # discordant counts, one division per statistic.
        "mcnemar": """
  WITH mn_b AS (SELECT vec_id % 4 AS slice,
                       CAST(label AS BIGINT) AS y,
                       vec_id % 10 AS pa,
                       (vec_id * 7 + 3) % 10 AS pb
                FROM embeddings WHERE label IS NOT NULL),
  mn_a AS (SELECT slice,
                  CAST(count(*) AS BIGINT) AS n_items,
                  CAST(sum(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_both_right,
                  CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_only_a,
                  CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_only_b,
                  CAST(sum(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_both_wrong
           FROM mn_b GROUP BY 1)
  SELECT slice, n_items, n_both_right, n_only_a, n_only_b, n_both_wrong,
         CASE WHEN n_only_a + n_only_b > 0 THEN
           CAST(n_only_a - n_only_b AS DOUBLE)
           * CAST(n_only_a - n_only_b AS DOUBLE)
           / CAST(n_only_a + n_only_b AS DOUBLE) END AS chi2,
         CASE WHEN n_only_a + n_only_b > 0 THEN
           CAST(CASE WHEN abs(n_only_a - n_only_b) > 1
                     THEN abs(n_only_a - n_only_b) - 1 ELSE 0 END
                AS DOUBLE)
           * CAST(CASE WHEN abs(n_only_a - n_only_b) > 1
                       THEN abs(n_only_a - n_only_b) - 1 ELSE 0 END
                  AS DOUBLE)
           / CAST(n_only_a + n_only_b AS DOUBLE) END AS chi2_corrected
  FROM mn_a""",
        # Brier score on the integer grid (classify.brier_score):
        # exact squared-error sum, one division.
        "brier_score": """
  WITH bs_b AS (SELECT event_type,
                       CAST(event_id % 2 AS HUGEINT) AS y,
                       CAST(event_id % 101 AS HUGEINT) AS s
                FROM events)
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(0 AS BIGINT) AS n_excluded,
         CASE WHEN count(*) > 0 THEN
           CAST(sum((s - y * 100) * (s - y * 100)) AS DOUBLE)
           / CAST(count(*) * 100 * 100 AS DOUBLE) END AS brier
  FROM bs_b GROUP BY 1""",
        # Reliability diagram (classify.calibration_bins): integer bin
        # assignment, exact per-bin sums, fixed-order gap expression.
        "calibration_bins": """
  WITH cb_b AS (SELECT event_type,
                       least((event_id % 101) * 10 // 100, 9) AS bin,
                       CAST(event_id % 101 AS HUGEINT) AS s,
                       CAST(event_id % 2 AS BIGINT) AS y
                FROM events),
  cb_a AS (SELECT event_type, CAST(bin AS BIGINT) AS bin,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(y) AS BIGINT) AS n_pos,
                  sum(s) AS ss
           FROM cb_b GROUP BY 1, 2)
  SELECT event_type, bin, n, n_pos,
         CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS avg_conf,
         CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
         abs(CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0)
             - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS gap
  FROM cb_a""",
        # Unbiased pass@3 (classify.pass_at_k): the unrolled
        # three-factor product in the same fixed written order as the
        # engine's plan-built chain (1.0 * f0 == f0 in IEEE, so the
        # leading literal drops out of both sides identically).
        "pass_at_k": """
  WITH pk_a AS (SELECT l_orderkey AS task,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN l_linenumber % 3 = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS c
                FROM lineitem GROUP BY 1)
  SELECT task, n AS n_samples, c AS n_passed,
         CASE WHEN n < 3 THEN NULL
              WHEN n - c < 3 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(1.0 AS DOUBLE)
                   - (CAST(n - c AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(n - c - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                   * (CAST(n - c - 2 AS DOUBLE) / CAST(n - 2 AS DOUBLE))
         END AS pass_at_k
  FROM pk_a""",
        # Split-conformal threshold (stats.conformal_threshold):
        # integer rank k = ceil((n+1)*(1-alpha)) as
        # ((n+1)*(den-num) + den - 1) // den, order-statistic lookup
        # via the cumulative count, zero floats.
        "conformal_threshold": """
  WITH cf_b AS (SELECT event_type AS g,
                       CAST(floor(value * 100 + 0.5) AS BIGINT) AS s
                FROM events WHERE value IS NOT NULL),
  cf_v AS (SELECT g, s, CAST(count(*) AS BIGINT) AS ct
           FROM cf_b GROUP BY 1, 2),
  cf_c AS (SELECT g, s, ct,
                  sum(ct) OVER (PARTITION BY g ORDER BY s
                                ROWS UNBOUNDED PRECEDING) AS cum
           FROM cf_v),
  cf_t AS (SELECT g, sum(ct) AS n,
                  ((sum(ct) + 1) * 9 + 9) // 10 AS k
           FROM cf_v GROUP BY 1),
  cf_h AS (SELECT c.g, min(c.s) AS thr
           FROM cf_c c JOIN cf_t t ON c.g = t.g
           WHERE c.cum >= t.k GROUP BY 1)
  SELECT t.g AS event_type,
         CAST(t.n AS BIGINT) AS n,
         CAST(t.k AS BIGINT) AS k_index,
         h.thr AS threshold
  FROM cf_t t LEFT JOIN cf_h h ON t.g = h.g""",
        # ROUGE-2 with clipped counts (text.rouge_n): min() per shared
        # bigram off a (pair, gram) full-outer join of the two
        # multiset-count frames; the pair spine restores gram-less
        # pairs.
        "rouge_n": """
  WITH rg_p AS (SELECT o.doc_id AS doc_id,
                       string_split_regex(trim(o.text), '\\s+') AS ct,
                       string_split_regex(trim(e.text), '\\s+') AS rt
                FROM documents o
                JOIN documents e ON o.doc_id = e.doc_id + 1
                WHERE o.doc_id % 2 = 1),
  rg_cg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc FROM (
              SELECT doc_id,
                     array_to_string(list_slice(ct, u.i, u.i + 1), ' ') AS g
              FROM rg_p, UNNEST(range(1, len(ct))) AS u(i)
              WHERE len(ct) >= 2)
            GROUP BY 1, 2),
  rg_rg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cr FROM (
              SELECT doc_id,
                     array_to_string(list_slice(rt, u.i, u.i + 1), ' ') AS g
              FROM rg_p, UNNEST(range(1, len(rt))) AS u(i)
              WHERE len(rt) >= 2)
            GROUP BY 1, 2),
  rg_j AS (SELECT COALESCE(c.doc_id, r.doc_id) AS doc_id,
                  COALESCE(c.cc, 0) AS cc, COALESCE(r.cr, 0) AS cr
           FROM rg_cg c FULL OUTER JOIN rg_rg r
             ON c.doc_id = r.doc_id AND c.g = r.g),
  rg_a AS (SELECT doc_id, CAST(sum(cc) AS BIGINT) AS n_cand,
                  CAST(sum(cr) AS BIGINT) AS n_ref,
                  CAST(sum(least(cc, cr)) AS BIGINT) AS n_overlap
           FROM rg_j GROUP BY 1),
  rg_s AS (SELECT doc_id,
                  COALESCE(a.n_cand, 0) AS n_cand,
                  COALESCE(a.n_ref, 0) AS n_ref,
                  COALESCE(a.n_overlap, 0) AS n_overlap
           FROM (SELECT DISTINCT doc_id FROM rg_p) s
           LEFT JOIN rg_a a USING (doc_id)),
  rg_m AS (SELECT doc_id, n_cand, n_ref, n_overlap,
                  CASE WHEN n_cand > 0 THEN
                    CAST(n_overlap AS DOUBLE) / CAST(n_cand AS DOUBLE)
                  END AS p,
                  CASE WHEN n_ref > 0 THEN
                    CAST(n_overlap AS DOUBLE) / CAST(n_ref AS DOUBLE)
                  END AS r
           FROM rg_s)
  SELECT doc_id, n_cand, n_ref, n_overlap,
         p AS "precision", r AS recall,
         CASE WHEN p IS NOT NULL AND r IS NOT NULL AND p + r > 0
              THEN 2.0 * p * r / (p + r)
              WHEN p IS NOT NULL AND r IS NOT NULL
              THEN CAST(0.0 AS DOUBLE) END AS f1
  FROM rg_m""",
        # Per-doc trigram novelty vs the rest of the corpus
        # (text.ngram_novelty): distinct-set semantics both sides, one
        # anti-join expressed as NOT EXISTS on the gram.
        "ngram_novelty": """
  WITH nv_new AS (SELECT doc_id,
                         string_split_regex(trim(text), '\\s+') AS toks
                  FROM documents WHERE doc_id % 10 = 0),
  nv_cor AS (SELECT string_split_regex(trim(text), '\\s+') AS toks
             FROM documents WHERE doc_id % 10 <> 0),
  nv_ng AS (SELECT DISTINCT doc_id,
                   array_to_string(list_slice(toks, u.i, u.i + 2), ' ') AS g
            FROM nv_new, UNNEST(range(1, len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 3),
  nv_cg AS (SELECT DISTINCT
                   array_to_string(list_slice(toks, u.i, u.i + 2), ' ') AS g
            FROM nv_cor, UNNEST(range(1, len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 3),
  nv_t AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
           FROM nv_ng GROUP BY 1),
  nv_n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
           FROM nv_ng x
           WHERE NOT EXISTS (SELECT 1 FROM nv_cg c WHERE c.g = x.g)
           GROUP BY 1)
  SELECT s.doc_id,
         COALESCE(t.n_grams, 0) AS n_grams,
         COALESCE(n.n_novel, 0) AS n_novel,
         CASE WHEN COALESCE(t.n_grams, 0) > 0 THEN
           CAST(COALESCE(n.n_novel, 0) AS DOUBLE)
           / CAST(t.n_grams AS DOUBLE) END AS novelty
  FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) s
  LEFT JOIN nv_t t USING (doc_id)
  LEFT JOIN nv_n n USING (doc_id)""",
        # Distinct-2 diversity per source (text.distinct_ngram_ratio).
        "distinct_ngram_ratio": """
  WITH dr_b AS (SELECT source,
                       string_split_regex(trim(text), '\\s+') AS toks
                FROM documents),
  dr_g AS (SELECT source,
                  array_to_string(list_slice(toks, u.i, u.i + 1), ' ') AS g
           FROM dr_b, UNNEST(range(1, len(toks))) AS u(i)
           WHERE len(toks) >= 2),
  dr_a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_occurrences,
                  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
           FROM dr_g GROUP BY 1)
  SELECT s.source,
         COALESCE(a.n_occurrences, 0) AS n_occurrences,
         COALESCE(a.n_distinct, 0) AS n_distinct,
         CASE WHEN COALESCE(a.n_occurrences, 0) > 0 THEN
           CAST(a.n_distinct AS DOUBLE) / CAST(a.n_occurrences AS DOUBLE)
         END AS distinct_ratio
  FROM (SELECT DISTINCT source FROM documents) s
  LEFT JOIN dr_a a USING (source)""",
        # Self-consistency majority vote (classify.majority_vote):
        # smallest-answer tie-break via arg_min over (-votes, answer).
        "majority_vote": """
  WITH mv_b AS (SELECT user_id % 997 AS task, event_type AS a
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
  mv_v AS (SELECT task, a, CAST(count(*) AS BIGINT) AS v
           FROM mv_b GROUP BY 1, 2),
  mv_t AS (SELECT task,
                  CAST(sum(v) AS BIGINT) AS n_samples,
                  CAST(count(*) AS BIGINT) AS n_distinct
           FROM mv_v GROUP BY 1),
  mv_r AS (SELECT task, a, v,
                  row_number() OVER (PARTITION BY task
                                     ORDER BY v DESC, a ASC) AS rn
           FROM mv_v)
  SELECT t.task, t.n_samples, t.n_distinct,
         r.a AS answer, r.v AS n_votes,
         CAST(r.v AS DOUBLE) / CAST(t.n_samples AS DOUBLE) AS agreement
  FROM mv_t t JOIN mv_r r ON t.task = r.task AND r.rn = 1""",
        # Pairwise Wilson intervals (classify.winrate_wilson): the
        # bounds mirror the engine's fixed written order exactly — two
        # single divisions, one correctly-rounded sqrt.
        "winrate_wilson": """
  WITH ww_b AS (SELECT l_returnflag AS model_a, l_linestatus AS model_b,
                       CAST(l_quantity > 25 AS BIGINT) AS w
                FROM lineitem),
  ww_a AS (SELECT model_a, model_b,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(w) AS BIGINT) AS wins
           FROM ww_b GROUP BY 1, 2),
  ww_m AS (SELECT model_a, model_b, n, wins,
                  CAST(wins AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                  CAST(n AS DOUBLE) AS nd
           FROM ww_a)
  SELECT model_a, model_b, n, wins, p AS winrate,
         (p + 3.8415999999999996e0 / (2.0e0 * nd)
          - 1.96e0 * sqrt(p * (1.0e0 - p) / nd
                          + 3.8415999999999996e0 / (4.0e0 * nd * nd)))
         / (1.0e0 + 3.8415999999999996e0 / nd) AS wilson_lo,
         (p + 3.8415999999999996e0 / (2.0e0 * nd)
          + 1.96e0 * sqrt(p * (1.0e0 - p) / nd
                          + 3.8415999999999996e0 / (4.0e0 * nd * nd)))
         / (1.0e0 + 3.8415999999999996e0 / nd) AS wilson_hi
  FROM ww_m""",
        # Exact PR curve per event type (stats.pr_curve): cumulative
        # counts over the DESCENDING distinct-score prefix.
        "pr_curve": """
  WITH pc_b AS (SELECT event_type AS g,
                       CAST(event_id % 97 AS BIGINT) AS s,
                       CAST(event_id % 2 <> 0 AS BIGINT) AS p,
                       CAST(event_id % 2 = 0 AS BIGINT) AS q
                FROM events),
  pc_v AS (SELECT g, s, CAST(sum(p) AS BIGINT) AS cp,
                  CAST(sum(q) AS BIGINT) AS cq
           FROM pc_b GROUP BY 1, 2),
  pc_c AS (SELECT g, s, cp, cq,
                  sum(cp) OVER (PARTITION BY g ORDER BY s DESC
                                ROWS UNBOUNDED PRECEDING) AS tp,
                  sum(cq) OVER (PARTITION BY g ORDER BY s DESC
                                ROWS UNBOUNDED PRECEDING) AS fp
           FROM pc_v),
  pc_t AS (SELECT g, CAST(sum(cp) AS BIGINT) AS np
           FROM pc_v GROUP BY 1)
  SELECT c.g AS event_type, c.s AS threshold,
         CAST(c.tp AS BIGINT) AS tp, CAST(c.fp AS BIGINT) AS fp,
         CAST(c.tp AS DOUBLE) / (CAST(c.tp AS DOUBLE)
                                 + CAST(c.fp AS DOUBLE)) AS "precision",
         CASE WHEN t.np > 0 THEN
           CAST(c.tp AS DOUBLE) / CAST(t.np AS DOUBLE) END AS recall
  FROM pc_c c JOIN pc_t t ON c.g = t.g""",
        # Flesch reading ease / FK grade (text.readability): exact
        # counts, syllable heuristic = per-word vowel-group runs
        # floored at 1, ≤6-digit constants (exact decimal→double).
        "readability": """
  WITH rd_b AS (SELECT doc_id, text,
                       string_split_regex(trim(text), '\\s+') AS toks
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0),
  rd_c AS (SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_words,
                  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                       AS BIGINT) AS n_sentences,
                  CAST(list_sum(list_transform(toks, x ->
                         greatest(1, len(regexp_extract_all(lower(x),
                                                            '[aeiouy]+')))))
                       AS BIGINT) AS n_syllables
           FROM rd_b)
  SELECT doc_id, n_words, n_sentences, n_syllables,
         206.835 - 1.015 * (CAST(n_words AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE)) AS flesch_ease,
         0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
           + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
           - 15.59 AS fk_grade
  FROM rd_c""",
        # Hour-of-day seasonal profile (timeseries.seasonal_profile):
        # exact cent sums, single-division means, fixed-order dev.
        "seasonal_profile": """
  WITH sp_b AS (SELECT event_type,
                       CAST(hour(ts) AS BIGINT) AS phase,
                       CAST(floor(value * 100 + 0.5) AS HUGEINT) AS v
                FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
  sp_p AS (SELECT event_type, phase,
                  CAST(count(*) AS BIGINT) AS n, sum(v) AS s
           FROM sp_b GROUP BY 1, 2),
  sp_t AS (SELECT event_type, CAST(sum(n) AS HUGEINT) AS tn,
                  sum(s) AS ts
           FROM sp_p GROUP BY 1)
  SELECT p.event_type, p.phase, p.n,
         CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE) AS mean_value,
         CAST(t.ts AS DOUBLE) / CAST(t.tn AS DOUBLE) AS overall_mean,
         CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE)
           - CAST(t.ts AS DOUBLE) / CAST(t.tn AS DOUBLE) AS seasonal_dev
  FROM sp_p p JOIN sp_t t ON p.event_type = t.event_type""",
        # Exact TVD between click and view dollar buckets
        # (stats.tv_distance): |ca*nb - cb*na| integer numerator.
        "tv_distance": """
  WITH tv_b AS (SELECT event_type AS g,
                       CAST(floor(value) AS BIGINT) AS c
                FROM events WHERE event_type IN ('click', 'view')),
  tv_c AS (SELECT c,
                  CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                       AS HUGEINT) AS ca,
                  CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END)
                       AS HUGEINT) AS cb
           FROM tv_b GROUP BY 1
           HAVING sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) > 0
               OR sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) > 0),
  tv_t AS (SELECT COALESCE(sum(ca), 0) AS na, COALESCE(sum(cb), 0) AS nb
           FROM tv_c),
  tv_n AS (SELECT COALESCE(sum(abs(c.ca * t.nb - c.cb * t.na)), 0) AS num,
                  CAST(count(*) AS BIGINT) AS n_categories
           FROM tv_c c CROSS JOIN tv_t t)
  SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
         n.n_categories,
         CASE WHEN t.na > 0 AND t.nb > 0 THEN
           CAST(n.num AS DOUBLE) / CAST(2 * t.na * t.nb AS DOUBLE)
         END AS tv_distance
  FROM tv_t t CROSS JOIN tv_n n""",
        # Domain-suffix blocklist gating (web.domain_suffix_filter):
        # host → dot-suffix chain → equi-join the blocklist; longest
        # match wins; 'notexample.com' must not match 'example.com'.
        "domain_filter": """
  WITH df_u AS (SELECT doc_id,
                       (CASE WHEN doc_id % 4 = 0 THEN 'https://www.'
                             ELSE 'https://' END)
                       || 'ex' || CAST(doc_id % 20 AS VARCHAR)
                       || (CASE WHEN doc_id % 3 = 0 THEN '.ads.example.com'
                                WHEN doc_id % 3 = 1 THEN '.example.com'
                                ELSE '.safe.org' END)
                       || '/p/' || CAST(doc_id % 50 AS VARCHAR) AS url
                FROM documents),
  df_h AS (SELECT doc_id, url,
                  regexp_replace(
                    lower(regexp_extract(
                      regexp_replace(url, '(?i)^[a-z][a-z0-9+.-]*://', ''),
                      '^([^/?#]+)', 1)),
                    '^www\\.', '') AS host
           FROM df_u),
  df_l AS (SELECT doc_id, url, host,
                  string_split(host, '.') AS labels
           FROM df_h),
  df_x AS (SELECT doc_id, url, host,
                  array_to_string(
                    list_slice(labels, CAST(u.i AS BIGINT), len(labels)),
                    '.') AS cand
           FROM df_l, UNNEST(range(1, len(labels) + 1)) AS u(i)),
  df_m AS (SELECT x.doc_id, x.url, x.host, b.suffix
           FROM df_x x
           LEFT JOIN (VALUES ('example.com'), ('ads.example.com'),
                             ('evil.net')) AS b(suffix)
             ON x.cand = b.suffix)
  SELECT doc_id, url, host,
         bool_or(suffix IS NOT NULL) AS blocked,
         arg_max(suffix, length(suffix)) AS matched_suffix
  FROM df_m GROUP BY 1, 2, 3""",
        # Eval-pipeline composition (classify.majority_vote →
        # classify.winrate_wilson): 3 surrogate annotators, majority
        # with smallest-answer tie-break, per-slice Wilson-bounded
        # accuracy. Same e-notation z² literal as winrate_wilson.
        "judge_agreement_e2e": """
  WITH ja_e AS (SELECT vec_id AS item,
                       CAST(vec_id % 4 AS BIGINT) AS slc,
                       CAST(label AS BIGINT) AS gold
                FROM embeddings WHERE label IS NOT NULL),
  ja_v AS (SELECT item, CAST(ans AS VARCHAR) AS a FROM (
             SELECT item, unnest([item % 10, (item * 7 + 3) % 10,
                                  (item * 13 + 1) % 10]) AS ans
             FROM ja_e)),
  ja_c AS (SELECT item, a, CAST(count(*) AS BIGINT) AS v
           FROM ja_v GROUP BY 1, 2),
  ja_r AS (SELECT item, a,
                  row_number() OVER (PARTITION BY item
                                     ORDER BY v DESC, a ASC) AS rn
           FROM ja_c),
  ja_s AS (SELECT CAST(e.slc AS VARCHAR) AS slice,
                  'majority@3' AS system,
                  CAST(CAST(r.a AS BIGINT) = e.gold AS BIGINT) AS w
           FROM ja_e e JOIN ja_r r ON e.item = r.item AND r.rn = 1),
  ja_a AS (SELECT slice, system,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(w) AS BIGINT) AS n_correct
           FROM ja_s GROUP BY 1, 2),
  ja_m AS (SELECT slice, system, n, n_correct,
                  CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                  CAST(n AS DOUBLE) AS nd
           FROM ja_a)
  SELECT slice, system, n, n_correct, p AS accuracy,
         (p + 3.8415999999999996e0 / (2.0e0 * nd)
          - 1.96e0 * sqrt(p * (1.0e0 - p) / nd
                          + 3.8415999999999996e0 / (4.0e0 * nd * nd)))
         / (1.0e0 + 3.8415999999999996e0 / nd) AS wilson_lo,
         (p + 3.8415999999999996e0 / (2.0e0 * nd)
          + 1.96e0 * sqrt(p * (1.0e0 - p) / nd
                          + 3.8415999999999996e0 / (4.0e0 * nd * nd)))
         / (1.0e0 + 3.8415999999999996e0 / nd) AS wilson_hi
  FROM ja_m""",
        # Krippendorff's alpha (classify.krippendorff_alpha): same
        # surrogate 3-rater panel; per-v integer clearing with the
        # PROD(v-1) common denominator (product() of small integers is
        # double-exact below 2^53; `//` keeps p/(v-1) integer), one
        # final double division — bit-identical to the engine.
        "krippendorff_alpha": """
  WITH ka_r AS (
    SELECT doc_id AS item, lang AS lab
    FROM documents WHERE lang IS NOT NULL
    UNION ALL
    SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END
    FROM documents WHERE lang IS NOT NULL AND doc_id % 3 <> 0
    UNION ALL
    SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'yy' ELSE lang END
    FROM documents WHERE lang IS NOT NULL AND doc_id % 4 <> 0),
  ka_ic AS (SELECT item, lab, CAST(count(*) AS BIGINT) AS nuc
            FROM ka_r GROUP BY 1, 2),
  ka_u AS (SELECT item, SUM(nuc) AS nu, SUM(nuc * nuc) AS s2
           FROM ka_ic GROUP BY 1),
  ka_u2 AS (SELECT * FROM ka_u WHERE nu >= 2),
  ka_v AS (SELECT nu AS v,
                  CAST(SUM(nu * nu - s2) AS HUGEINT) AS sv,
                  CAST(count(*) AS BIGINT) AS items,
                  CAST(SUM(nu) AS HUGEINT) AS nv
           FROM ka_u2 GROUP BY 1),
  ka_p AS (SELECT CAST(product(CAST(v - 1 AS DOUBLE)) AS HUGEINT) AS p,
                  CAST(SUM(items) AS BIGINT) AS n_items,
                  CAST(SUM(nv) AS HUGEINT) AS n
           FROM ka_v),
  ka_num AS (SELECT CAST(SUM(sv * (p // CAST(v - 1 AS HUGEINT)))
                         AS HUGEINT) AS num
             FROM ka_v, ka_p),
  ka_c AS (SELECT lab, CAST(SUM(nuc) AS HUGEINT) AS ncnt
           FROM ka_ic JOIN ka_u2 USING (item) GROUP BY 1),
  ka_ct AS (SELECT CAST(SUM(ncnt * ncnt) AS HUGEINT) AS sum_nc2,
                   CAST(count(*) AS BIGINT) AS n_categories
            FROM ka_c)
  SELECT COALESCE(n_items, 0) AS n_items,
         COALESCE(CAST(n AS BIGINT), 0) AS n_ratings,
         COALESCE(n_categories, 0) AS n_categories,
         CASE WHEN p * (n * n - sum_nc2) <> 0 AND n_items > 0
               AND p < CAST(9007199254740992 AS HUGEINT) THEN
           1.0e0 - CAST(n - 1 AS DOUBLE) * CAST(num AS DOUBLE)
                   / CAST(p * (n * n - sum_nc2) AS DOUBLE)
         END AS alpha
  FROM ka_p, ka_num, ka_ct""",
        # Confident-learning joint (classify.confident_joint): mean
        # thresholds as cross-multiplied integer comparisons, class
        # order an exact pairwise rank (alphabet² correlated subquery),
        # arg_max over the integer rank.
        "label_noise": """
  WITH ln_b AS (SELECT c_mktsegment AS given,
                       CAST(c_acctbal AS DECIMAL(38,2)) AS s
                FROM customer
                WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL),
  ln_cls AS (SELECT given AS k, SUM(s) AS ssum,
                    CAST(count(*) AS HUGEINT) AS cnt
             FROM ln_b GROUP BY 1),
  ln_rank AS (SELECT a.k, a.ssum, a.cnt,
                     (SELECT CAST(count(*) AS BIGINT) FROM ln_cls b
                      WHERE b.k <> a.k AND
                        (b.ssum * a.cnt < a.ssum * b.cnt
                         OR (b.ssum * a.cnt = a.ssum * b.cnt
                             AND b.k < a.k))) AS rnk
              FROM ln_cls a),
  ln_cand AS (SELECT b.given, b.s, r.k, r.rnk
              FROM ln_b b, ln_rank r
              WHERE b.s * r.cnt >= r.ssum),
  ln_pick AS (SELECT given, s, arg_max(k, rnk) AS sugg
              FROM ln_cand GROUP BY 1, 2),
  ln_cnt AS (SELECT given, s, CAST(count(*) AS BIGINT) AS m
             FROM ln_b GROUP BY 1, 2)
  SELECT given AS given_label,
         COALESCE(sugg, given) AS suggested_label,
         CAST(SUM(m) AS BIGINT) AS n_examples
  FROM ln_cnt LEFT JOIN ln_pick USING (given, s)
  GROUP BY 1, 2""",
        # Leakage-safe split (sampling.leakage_safe_split): near-dup
        # clusters (64-char-prefix md5, min-id rep) key the 90/5/5 md5
        # grid so near-twins share a subset; same thresholds as
        # dataset_split.
        "leakage_split": f"""
  WITH ls_d AS (SELECT doc_id, md5(substr(text, 1, 64)) AS dg
                FROM documents),
  ls_g AS (SELECT dg, MIN(doc_id) AS rep, count(*) AS cnt
           FROM ls_d GROUP BY 1),
  ls_c AS (SELECT d.doc_id, g.rep AS cluster_id
           FROM ls_d d JOIN ls_g g USING (dg) WHERE g.cnt > 1),
  ls_k AS (SELECT d.doc_id, c.cluster_id,
                  COALESCE(CAST(c.cluster_id AS VARCHAR),
                           CAST(d.doc_id AS VARCHAR)) AS skey
           FROM ls_d d LEFT JOIN ls_c c USING (doc_id)),
  ls_s AS (SELECT doc_id, cluster_id,
             CASE WHEN CAST('0x' || substr(md5(skey || '|split'), 1, 4)
                       AS INT) < {_split_thresholds()[0]} THEN 'train'
                  WHEN CAST('0x' || substr(md5(skey || '|split'), 1, 4)
                       AS INT) < {_split_thresholds()[1]} THEN 'val'
                  ELSE 'test' END AS split
           FROM ls_k)
  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(cluster_id) AS BIGINT) AS n_clustered_docs,
         CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
  FROM ls_s GROUP BY 1""",
        # Sequential-pattern support (funnel.frequent_subsequences):
        # A>B iff first(A) < last(B) on the per-(user,type) min/max
        # position table; A>B>C via first-B-after-first-A then the same
        # last-position test — existential subsequence counts, no
        # embedding enumeration.
        "seq_mining": """
  WITH fs_e AS (SELECT user_id AS u, event_type AS it,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS p
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
  fs_t AS (SELECT u, it, MIN(p) AS fp, MAX(p) AS lp
           FROM fs_e GROUP BY 1, 2),
  fs_1 AS (SELECT it AS pattern, CAST(1 AS BIGINT) AS length,
                  CAST(count(*) AS BIGINT) AS support
           FROM fs_t GROUP BY 1),
  fs_2 AS (SELECT a.it || '>' || b.it AS pattern,
                  CAST(2 AS BIGINT) AS length,
                  CAST(count(*) AS BIGINT) AS support
           FROM fs_t a JOIN fs_t b USING (u)
           WHERE a.fp < b.lp GROUP BY 1),
  fs_ab AS (SELECT e.u, a.it AS ia, e.it AS ib, MIN(e.p) AS fab
            FROM fs_e e JOIN fs_t a ON e.u = a.u AND e.p > a.fp
            GROUP BY 1, 2, 3),
  fs_3 AS (SELECT x.ia || '>' || x.ib || '>' || c.it AS pattern,
                  CAST(3 AS BIGINT) AS length,
                  CAST(count(*) AS BIGINT) AS support
           FROM fs_ab x JOIN fs_t c ON x.u = c.u AND c.lp > x.fab
           GROUP BY 1)
  SELECT * FROM (SELECT * FROM fs_1 UNION ALL
                 SELECT * FROM fs_2 UNION ALL
                 SELECT * FROM fs_3)
  WHERE support >= 5""",
        # Rank-biased overlap (text.rbo_min): per-item max(rank) pair,
        # depth-conditional integer counts, literal weights via
        # _rbo_sum_sql — same fixed-order float tail as the engine.
        "rbo_rankings": f"""
  WITH rb_a AS (SELECT p_brand AS g, p_partkey AS i,
                       row_number() OVER (PARTITION BY p_brand
                         ORDER BY p_retailprice DESC, p_partkey) AS r
                FROM part),
  rb_b AS (SELECT p_brand AS g, p_partkey AS i,
                  row_number() OVER (PARTITION BY p_brand
                    ORDER BY p_size DESC, p_partkey) AS r
           FROM part),
  rb_p AS (SELECT a.g, GREATEST(a.r, b.r) AS m
           FROM (SELECT * FROM rb_a WHERE r <= 10) a
           JOIN (SELECT * FROM rb_b WHERE r <= 10) b
             ON a.g = b.g AND a.i = b.i),
  rb_s AS (SELECT g, CAST(count(*) AS BIGINT) AS n_common,
                  {_rbo_sum_sql()} AS rbo
           FROM rb_p GROUP BY 1)
  SELECT br.g AS p_brand,
         COALESCE(s.n_common, 0) AS n_common,
         COALESCE(s.rbo, 0.0e0) AS rbo_min
  FROM (SELECT DISTINCT p_brand AS g FROM part) br
  LEFT JOIN rb_s s USING (g)""",
        # Stratified k-fold (sampling.kfold_assign): md5-order rank mod
        # k within each language stratum — exact per-stratum balance.
        "kfold": """
  SELECT lang, fold, CAST(count(*) AS BIGINT) AS n_docs
  FROM (SELECT lang,
               CAST((row_number() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || '|fold'),
                                doc_id) - 1) % 5 AS BIGINT) AS fold
        FROM documents WHERE doc_id IS NOT NULL)
  GROUP BY 1, 2""",
        # Dedup provenance (dedup.provenance_rollup): distinct-source
        # roster via a distinct subquery + ordered string_agg (mirrors
        # sort_array(collect_set) → concat_ws).
        "cluster_provenance": """
  WITH cp_d AS (SELECT doc_id, md5(substr(text, 1, 64)) AS dg,
                       source, n_chars
                FROM documents),
  cp_g AS (SELECT dg, MIN(doc_id) AS rep, count(*) AS cnt
           FROM cp_d GROUP BY 1),
  cp_c AS (SELECT d.doc_id, g.rep AS cluster_id, d.source, d.n_chars
           FROM cp_d d JOIN cp_g g USING (dg) WHERE g.cnt > 1),
  cp_s AS (SELECT cluster_id,
                  CAST(count(*) AS BIGINT) AS n_sources,
                  string_agg(source, ',' ORDER BY source) AS sources
           FROM (SELECT DISTINCT cluster_id, source FROM cp_c
                 WHERE source IS NOT NULL)
           GROUP BY 1),
  cp_m AS (SELECT cluster_id,
                  CAST(count(*) AS BIGINT) AS n_members,
                  MIN(doc_id) AS min_doc_id,
                  MAX(doc_id) AS max_doc_id,
                  CAST(SUM(n_chars) AS BIGINT) AS total_chars
           FROM cp_c GROUP BY 1)
  SELECT m.cluster_id, m.n_members, m.min_doc_id, m.max_doc_id,
         COALESCE(s.n_sources, 0) AS n_sources,
         COALESCE(s.sources, '') AS sources,
         m.total_chars
  FROM cp_m m LEFT JOIN cp_s s USING (cluster_id)""",
        # Deterministic one-shot quantile summary: exact per-value
        # counts, per-key cumulative, keep the rows completing a rank
        # band (integer // mirrors the engine's DIV exactly).
        "quantile_sketch": """
  WITH qs_b AS (SELECT o_orderpriority AS priority,
                       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
                FROM orders
                WHERE o_totalprice IS NOT NULL),
  qs_c AS (SELECT priority, v, CAST(count(*) AS BIGINT) AS c
           FROM qs_b GROUP BY 1, 2),
  qs_m AS (SELECT priority, v, c,
                  CAST(SUM(c) OVER (PARTITION BY priority ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                  CAST(SUM(c) OVER (PARTITION BY priority) AS BIGINT) AS n
           FROM qs_c)
  SELECT priority, CAST((cum * 32) // n AS BIGINT) AS band,
         v AS value, cum AS cum_cnt, n AS n_rows
  FROM qs_m
  WHERE (cum * 32) // n > ((cum - c) * 32) // n""",
        # Sketch merge law replayed: per-half build (counts -> cum ->
        # band filter), weights re-derived via LAG, union, re-band.
        "quantile_sketch_merged": """
  WITH qm_b AS (SELECT o_orderkey % 2 AS h,
                       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
                FROM orders WHERE o_totalprice IS NOT NULL),
  qm_c AS (SELECT h, v, CAST(count(*) AS BIGINT) AS c
           FROM qm_b GROUP BY 1, 2),
  qm_m AS (SELECT h, v, c,
                  CAST(SUM(c) OVER (PARTITION BY h ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                  CAST(SUM(c) OVER (PARTITION BY h) AS BIGINT) AS n
           FROM qm_c),
  qm_k AS (SELECT h, v, cum FROM qm_m
           WHERE (cum * 32) // n > ((cum - c) * 32) // n),
  qm_w AS (SELECT h, v,
                  cum - COALESCE(LAG(cum) OVER (PARTITION BY h
                        ORDER BY v), 0) AS c
           FROM qm_k),
  qm_u AS (SELECT v, CAST(SUM(c) AS BIGINT) AS c FROM qm_w GROUP BY 1),
  qm_f AS (SELECT v, c,
                  CAST(SUM(c) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                  CAST(SUM(c) OVER () AS BIGINT) AS n
           FROM qm_u)
  SELECT CAST((cum * 32) // n AS BIGINT) AS band, v AS value,
         cum AS cum_cnt, n AS n_rows
  FROM qm_f WHERE (cum * 32) // n > ((cum - c) * 32) // n""",
        # Mass-conservation dedup audit: member-level kept/absorbed per
        # source plus the __ALL__ cross-check row (raw totals, rollup
        # member/char totals) — mirrors dedup.dedup_mass_audit.
        "dedup_audit_e2e": """
  WITH da_g AS (SELECT doc_id, md5(substr(text, 1, 64)) AS dg
                FROM documents),
  da_cl AS (SELECT dg, MIN(doc_id) AS cluster_id, count(*) AS cnt
            FROM da_g GROUP BY 1),
  da_m AS (SELECT g.doc_id, c.cluster_id
           FROM da_g g JOIN da_cl c USING (dg) WHERE c.cnt > 1),
  da_rep AS (SELECT cluster_id, MIN(doc_id) AS rep FROM da_m GROUP BY 1),
  da_d AS (SELECT d.doc_id,
                  COALESCE(CAST(d.source AS VARCHAR), '') AS src,
                  COALESCE(CAST(d.n_chars AS BIGINT), 0) AS sz,
                  m.cluster_id
           FROM documents d LEFT JOIN da_m m USING (doc_id)),
  da_mm AS (SELECT d.*,
                   CAST(d.cluster_id IS NOT NULL
                        AND d.doc_id <> r.rep AS BIGINT) AS absorbed,
                   CAST(d.cluster_id IS NOT NULL AS BIGINT) AS clustered
            FROM da_d d LEFT JOIN da_rep r ON d.cluster_id = r.cluster_id),
  da_ps AS (SELECT src AS source,
                   CAST(count(*) AS BIGINT) AS docs_in,
                   CAST(SUM(sz) AS BIGINT) AS chars_in,
                   CAST(count(*) - SUM(absorbed) AS BIGINT) AS docs_kept,
                   CAST(SUM(absorbed) AS BIGINT) AS docs_absorbed,
                   CAST(SUM(absorbed * sz) AS BIGINT) AS chars_absorbed,
                   CAST(1 AS BIGINT) AS conserved
            FROM da_mm GROUP BY 1),
  da_raw AS (SELECT CAST(count(*) AS BIGINT) AS raw_docs,
                    CAST(SUM(COALESCE(CAST(n_chars AS BIGINT), 0))
                         AS BIGINT) AS raw_chars
             FROM documents),
  da_ru AS (SELECT COALESCE(CAST(SUM(cnt) AS BIGINT), 0) AS r_members
            FROM da_cl WHERE cnt > 1),
  da_rc AS (SELECT COALESCE(CAST(SUM(sz) AS BIGINT), 0) AS r_chars,
                   COALESCE(CAST(count(*) AS BIGINT), 0) AS m_clustered,
                   COALESCE(CAST(SUM(clustered * sz) AS BIGINT), 0)
                     AS m_cl_chars
            FROM da_mm WHERE clustered = 1),
  da_tot AS (SELECT CAST(count(*) AS BIGINT) AS docs_in,
                    CAST(SUM(sz) AS BIGINT) AS chars_in,
                    CAST(count(*) - SUM(absorbed) AS BIGINT) AS docs_kept,
                    CAST(SUM(absorbed) AS BIGINT) AS docs_absorbed,
                    CAST(SUM(absorbed * sz) AS BIGINT) AS chars_absorbed
             FROM da_mm)
  SELECT * FROM da_ps
  UNION ALL
  SELECT '__ALL__' AS source, t.docs_in, t.chars_in, t.docs_kept,
         t.docs_absorbed, t.chars_absorbed,
         CAST(t.docs_in = w.raw_docs AND t.chars_in = w.raw_chars
              AND c.m_clustered = u.r_members
              AND c.m_cl_chars = c.r_chars AS BIGINT) AS conserved
  FROM da_tot t, da_raw w, da_ru u, da_rc c""",
    }
    # Oracle-cost budget (tools/oracle_budget.py, r8 verdict #7): DuckDB
    # INLINES non-materialized CTEs, so an oracle that references a CTE
    # k times re-derives its whole upstream k times — the unrolled
    # ktruss replay walked the triangle enumeration once per wedge-join
    # leg and blew the ~30 s gate budget (90 s at sf0.01) while the
    # ENGINE side ran 3.4 s at sf0.1. Forcing CTE materialization is a
    # pure evaluation-strategy hint: results verified bit-identical for
    # each oracle below, runtimes ktruss 90→0.1 s, embedding_near_dup
    # 27→11 s, containment_dedup_fix 13→0.2 s, similarity_ann_buckets
    # 13→7 s. Applied selectively — materialization HURTS oracles whose
    # CTEs are referenced once and benefit from filter pushdown
    # (linkage_clusters_e2e measured 18→24 s).
    for _name in (
        "ktruss",
        "embedding_near_dup",
        "containment_dedup_fix",
        "similarity_ann_buckets",
    ):
        base[_name] = re.sub(r"\bAS \(", "AS MATERIALIZED (", base[_name])
    return base
