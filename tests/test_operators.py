"""Unit tests for relational operators (SURVEY.md §2 parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.operators import (
    anti_join_on_keys,
    blocklist_filter,
    completeness_count,
    dedup_keep_best,
    enrich_with_ordered_list,
    group_count_having,
    rank_in_group,
    rank_pivot_wide,
    segment_by_cutoff,
    spread_phone_columns,
    top_k_per_group,
    union_all_by_name,
    with_distinct_list,
    with_group_sum,
    with_priority_level,
)
from python_etl_mailing_automation_spark.operators.dedup import smart_dedup_prefer_named
from python_etl_mailing_automation_spark.operators.ordering import head_row_per_group
from python_etl_mailing_automation_spark.schema import (
    SchemaValidationError,
    ensure_columns,
    normalize_column_names,
    validate_required_columns,
)


def test_with_group_sum(spark):
    df = spark.createDataFrame(
        [("a", 10.5), ("a", 4.5), ("b", 1.0)], "k string, v double"
    )
    out = {r["k"]: r["total"] for r in with_group_sum(df, "k", "v", "total").collect()}
    assert out == {"a": 15.0, "b": 1.0}


def test_with_distinct_list_sorted(spark):
    df = spark.createDataFrame(
        [("c1", "U2"), ("c1", "U1"), ("c1", "U2"), ("c2", "U9")], "k string, u string"
    )
    rows = with_distinct_list(df, "k", "u", "ul", "uc").collect()
    byk = {(r["k"]): (r["ul"], r["uc"]) for r in rows}
    assert byk["c1"] == ("U1, U2", 2)
    assert byk["c2"] == ("U9", 1)


def test_group_count_having_threshold(spark):
    df = spark.createDataFrame(
        [("id1", "BAD"), ("id1", "BAD"), ("id1", "BAD"), ("id2", "BAD"), ("id2", "OK")],
        "id string, status string",
    )
    out = group_count_having(df, "id", F.col("status") == "BAD", 3)
    assert [r["id"] for r in out.collect()] == ["id1"]


def test_anti_join_removes_threshold_keys(spark):
    df = spark.createDataFrame([("id1", 1), ("id2", 2)], "k string, v int")
    bad = spark.createDataFrame([("id1",)], "bk string")
    out = anti_join_on_keys(df, bad, df_key="k", keys_key="bk")
    assert [r["k"] for r in out.collect()] == ["id2"]


def test_smart_dedup_prefers_named(spark):
    df = spark.createDataFrame(
        [("cpf1", None, 1), ("cpf1", "Maria", 2), ("cpf2", None, 3)],
        "ncpf string, nomecad string, rid int",
    )
    out = smart_dedup_prefer_named(df, "ncpf", "nomecad", tiebreaker="rid")
    got = {r["ncpf"]: r["nomecad"] for r in out.collect()}
    assert got == {"cpf1": "Maria", "cpf2": None}


def test_dedup_keep_best_maxby_matches_window_variant(spark):
    """The min_by reduction and the row_number window pick identical
    rows under the same preference order."""
    from python_etl_mailing_automation_spark.operators.dedup import (
        dedup_keep_best_maxby,
    )

    df = spark.createDataFrame(
        [
            ("1", None, 10.0, "a"), ("1", "Ana", 5.0, "b"), ("1", "Zoe", 5.0, "c"),
            ("2", None, 7.0, "d"), ("2", None, 9.0, "e"),
            ("3", "Bia", 1.0, "f"),
        ],
        "ncpf string, nomecad string, valor double, rid string",
    )
    has_name = F.col("nomecad").isNotNull()
    window_pick = dedup_keep_best(
        df, "ncpf", [has_name.desc(), F.col("valor").desc()], tiebreaker="rid"
    )
    maxby_pick = dedup_keep_best_maxby(
        df, "ncpf",
        [F.when(has_name, 0).otherwise(1), -F.col("valor"), F.col("rid")],
    )
    w = {tuple(r) for r in window_pick.select("ncpf", "rid").collect()}
    m = {tuple(r) for r in maxby_pick.select("ncpf", "rid").collect()}
    assert w == m == {("1", "b"), ("2", "e"), ("3", "f")}


def test_dedup_keep_best_completeness(spark):
    df = spark.createDataFrame(
        [("c1", "a", None, 1), ("c1", "a", "b", 2)],
        "k string, x string, y string, rid int",
    )
    scored = df.withColumn("completude", completeness_count(["x", "y"]))
    out = dedup_keep_best(scored, "k", [F.col("completude").desc()], tiebreaker="rid")
    assert out.first()["rid"] == 2  # most complete wins (reference intent, §7.3)


def test_enrich_with_ordered_list_best_first(spark):
    fact = spark.createDataFrame([("d1",), ("d2",)], "ndoc string")
    enr = spark.createDataFrame(
        [("d1", "111", 5.0), ("d1", "222", 9.0), ("d1", None, 99.0)],
        "documento string, telefone string, pontuacao double",
    )
    out = enrich_with_ordered_list(
        fact, enr, fact_key="ndoc", enrich_key="documento",
        value_col="telefone", score_col="pontuacao", out_col="tels",
    )
    got = {r["ndoc"]: r["tels"] for r in out.collect()}
    assert got["d1"] == ["222", "111"]  # best score first, nulls dropped
    assert got["d2"] is None  # left join miss


def test_priority_level_last_match_wins(spark):
    df = spark.createDataFrame(
        [("A", "X"), ("B", "A"), ("Z", "Z")], "c1 string, c2 string"
    )
    out = with_priority_level(df, ["c1", "c2"], ["A", "B"])
    got = {r["c1"] + r["c2"]: r["priority_level"] for r in out.collect()}
    assert got["AX"] == 0      # matches only A -> 0
    assert got["BA"] == 1      # matches A(0) and B(1) -> last wins -> 1
    assert got["ZZ"] == 2      # no match -> len(order)


def test_rank_topk_pivot(spark):
    df = spark.createDataFrame(
        [("o1", "2024-01-03", 30.0), ("o1", "2024-01-01", 10.0),
         ("o1", "2024-01-02", 20.0), ("o1", "2024-01-04", 40.0), ("o2", "2024-02-01", 5.0)],
        "k string, d string, v double",
    )
    ranked = rank_in_group(df, "k", [F.col("d")], out_col="rn")
    assert {(r["k"], r["d"]): r["rn"] for r in ranked.collect()}[("o1", "2024-01-01")] == 1
    top = top_k_per_group(df, "k", [F.col("d")], 3)
    assert top.filter(F.col("k") == "o1").count() == 3
    wide = rank_pivot_wide(df, "k", [F.col("d")], ["d", "v"], k=3)
    row = {r["k"]: r for r in wide.collect()}
    assert row["o1"]["d_1"] == "2024-01-01" and row["o1"]["v_3"] == 30.0
    assert row["o2"]["d_2"] is None
    # Fused single-agg strategy is the same operator: identical rows,
    # identical schema, and its plan has no Window and no pivot agg.
    fused = rank_pivot_wide(
        df, "k", [F.col("d")], ["d", "v"], k=3, order_keys=[F.col("d")]
    )
    assert fused.schema == wide.select(*fused.columns).schema
    assert sorted(map(tuple, fused.collect())) == sorted(
        map(tuple, wide.select(*fused.columns).collect())
    )
    plan = fused._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "Window" not in plan


def test_head_row_per_group_explicit_order(spark):
    df = spark.createDataFrame(
        [("c1", 2, "b"), ("c1", 1, "a")], "k string, pr int, x string"
    )
    out = head_row_per_group(df, "k", [F.col("pr").asc(), F.col("x")])
    assert out.first()["x"] == "a"


def test_blocklist_filter_side_output(spark):
    df = spark.createDataFrame(
        [("r1", " BLOQUEADO "), ("r2", "ok"), ("r3", None)], "id string, bloq string"
    )
    kept, rejected = blocklist_filter(df, "bloq", ["bloqueado"])
    assert sorted(r["id"] for r in kept.collect()) == ["r2", "r3"]
    rej = rejected.collect()
    assert [r["id"] for r in rej] == ["r1"]
    assert rej[0]["motivo_remocao"] == " BLOQUEADO "


def test_segment_by_cutoff_and_zero_mode(spark):
    df = spark.createDataFrame([("a", 10.0), ("b", 1.0)], "k string, v double")
    human, robot = segment_by_cutoff(df, "v", 5.0)
    assert [r["k"] for r in human.collect()] == ["a"]
    assert [r["k"] for r in robot.collect()] == ["b"]
    h0, r0 = segment_by_cutoff(df, "v", 0.0)
    assert h0.count() == r0.count() == 2  # corte==0: both get full copy


def test_union_all_by_name_missing_cols(spark):
    a = spark.createDataFrame([(1, "x")], "k int, a string")
    b = spark.createDataFrame([(2, "y")], "k int, b string")
    out = union_all_by_name([a, b])
    assert out.count() == 2 and set(out.columns) == {"k", "a", "b"}


def test_spread_phone_columns_array_algebra(spark):
    df = spark.createDataFrame(
        [(["111", "222"], "222.0", "(33)3", None), (None, None, "junk", "44")],
        "tels array<string>, p1 string, p2 string, p3 string",
    )
    out = spread_phone_columns(df, "tels", ["p1", "p2", "p3"]).collect()
    r0, r1 = out
    assert [r0["telefone_01"], r0["telefone_02"], r0["telefone_03"], r0["telefone_04"]] == [
        "111", "222", "333", None  # dedup keeps first-seen, junk dropped
    ]
    assert r1["telefone_01"] == "44"


def test_schema_validation(spark):
    df = spark.createDataFrame([(1, "x")], "NCPF int, ` extra ` string")
    df = normalize_column_names(df)
    rep = validate_required_columns(df, ["ncpf"])
    assert rep.extra == ["extra"]
    try:
        validate_required_columns(df, ["ncpf", "missing_col"])
        raise AssertionError("should have raised")
    except SchemaValidationError:
        pass
    out = ensure_columns(df, ["ncpf", "novo"])
    assert out.columns[:2] == ["ncpf", "novo"] and out.first()["novo"] == ""


def test_interval_join_containment_and_boundaries(spark):
    from python_etl_mailing_automation_spark.operators.asof import interval_join

    left = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 00:00:00"),   # == start (inclusive)
            (2, 10, "2024-01-01 11:59:59"),   # inside
            (3, 10, "2024-01-01 12:00:00"),   # == end (inclusive)
            (4, 10, "2024-01-01 12:00:01"),   # after end
            (5, 11, "2024-01-01 01:00:00"),   # wrong key
            (6, 12, "2024-01-01 01:00:00"),   # key with no interval
        ],
        ["event_id", "user_id", "ts_s"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    right = spark.createDataFrame(
        [
            (10, "2024-01-01 00:00:00", "2024-01-01 12:00:00", "w10"),
            (11, "2024-01-02 00:00:00", "2024-01-02 12:00:00", "w11"),
        ],
        ["user_id", "s", "e", "tag"],
    ).select(
        "user_id",
        F.to_timestamp("s").alias("start_ts"),
        F.to_timestamp("e").alias("end_ts"),
        "tag",
    )
    out = interval_join(left, right, on=["user_id"], granularity_s=3600)
    got = {(r.event_id, r.tag) for r in out.collect()}
    assert got == {(1, "w10"), (2, "w10"), (3, "w10")}
    # equi-join on (key, bin), never a nested-loop range join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_join_no_key_and_multi_bin(spark):
    from python_etl_mailing_automation_spark.operators.asof import interval_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 05:30:00"), (2, "2024-01-03 00:00:00")],
        ["event_id", "ts_s"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    # 24h interval spanning many 1h bins; no equi keys at all
    right = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-02 00:00:00", "day1")],
        ["s", "e", "tag"],
    ).select(
        F.to_timestamp("s").alias("start_ts"),
        F.to_timestamp("e").alias("end_ts"),
        "tag",
    )
    out = interval_join(left, right, granularity_s=3600)
    rows = out.collect()
    # exactly one match despite the interval covering 25 bins (left bin unique)
    assert [(r.event_id, r.tag) for r in rows] == [(1, "day1")]


def test_deletion_variants_radius1_and_2(spark):
    from python_etl_mailing_automation_spark.operators.linkage import (
        deletion_variants,
    )

    df = spark.createDataFrame([("abc",), ("aa",)], ["s"])
    got = {
        r.s: set(r.v)
        for r in df.select("s", deletion_variants("s").alias("v")).collect()
    }
    assert got["abc"] == {"abc", "bc", "ac", "ab"}
    # duplicate deletions collapse ("aa" -> "a" once)
    assert got["aa"] == {"aa", "a"}
    got2 = {
        r.s: set(r.v)
        for r in df.select(
            "s", deletion_variants("s", radius=2).alias("v")
        ).collect()
    }
    assert got2["abc"] == {"abc", "bc", "ac", "ab", "a", "b", "c"}
    assert got2["aa"] == {"aa", "a", ""}


def test_fuzzy_join_edit_exact_pairs(spark):
    from python_etl_mailing_automation_spark.operators.linkage import (
        fuzzy_join_edit,
    )

    left = spark.createDataFrame(
        [(1, "maria"), (2, "joao"), (3, "ana")], ["lid", "lname"]
    )
    right = spark.createDataFrame(
        # marla: substitution (d1); joo: deletion (d1); annna: d2; zz: far
        [(10, "marla"), (20, "joo"), (30, "annna"), (40, "zz")],
        ["rid", "rname"],
    )
    out = fuzzy_join_edit(
        left, right, left_id="lid", right_id="rid",
        left_col="lname", right_col="rname", max_dist=1,
    )
    got = {(r.lid, r.rid, r.dist) for r in out.collect()}
    assert got == {(1, 10, 1), (2, 20, 1)}
    # radius 2 additionally reaches annna (ana + 2 insertions)
    out2 = fuzzy_join_edit(
        left, right, left_id="lid", right_id="rid",
        left_col="lname", right_col="rname", max_dist=2,
    )
    got2 = {(r.lid, r.rid, r.dist) for r in out2.collect()}
    assert got2 == {(1, 10, 1), (2, 20, 1), (3, 30, 2)}
    # no all-pairs: candidate join is an equi (hash) join on variant md5
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_stages_order(spark):
    from python_etl_mailing_automation_spark.operators.funnel import (
        funnel_stages,
    )

    rows = [
        # u1 completes in order
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 10:05:00"),
        (1, "purchase", "2024-01-01 10:30:00"),
        # u2: click BEFORE any view -> stage1 must use the later click
        (2, "click", "2024-01-01 09:00:00"),
        (2, "view", "2024-01-01 10:00:00"),
        (2, "purchase", "2024-01-01 11:00:00"),
        # u3: never clicks -> purchase cannot count (order enforced)
        (3, "view", "2024-01-01 08:00:00"),
        (3, "purchase", "2024-01-01 09:00:00"),
    ]
    events = spark.createDataFrame(rows, ["user_id", "event_type", "ts_s"]).select(
        "user_id", "event_type", F.to_timestamp("ts_s").alias("ts")
    )
    out = {
        r.user_id: r
        for r in funnel_stages(events, ["view", "click", "purchase"]).collect()
    }
    assert out[1].stages_reached == 3
    assert out[2].stages_reached == 1  # click precedes view; no click after
    assert out[3].stages_reached == 1
    assert out[3].stage1_ts is None and out[3].stage2_ts is None


def test_debounce_events_bursts(spark):
    from python_etl_mailing_automation_spark.operators.aggregates import (
        debounce_events,
    )

    rows = [
        # u1 burst: 0s, 30s, 50s (one keep), then 200s (new burst)
        (1, 1, "2024-01-01 10:00:00"),
        (2, 1, "2024-01-01 10:00:30"),
        (3, 1, "2024-01-01 10:00:50"),
        (4, 1, "2024-01-01 10:03:20"),
        # u2: single event
        (5, 2, "2024-01-01 10:00:00"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts_s"]).select(
        "event_id", "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    kept = {
        r.event_id
        for r in debounce_events(
            ev, key_cols=["user_id"], gap_s=60, tiebreak_col="event_id"
        ).collect()
    }
    assert kept == {1, 4, 5}


def test_rolling_window_sum_range_and_ties(spark):
    from python_etl_mailing_automation_spark.operators.aggregates import (
        rolling_window_sum,
    )

    rows = [
        (1, 1, "2024-01-01 10:00:00", 10),
        (2, 1, "2024-01-01 10:30:00", 20),
        # tie with event 4: RANGE frame -> both see the same total
        (3, 1, "2024-01-01 11:30:00", 5),
        (4, 1, "2024-01-01 11:30:00", 7),
        # outside the 1h window of events 1-2
        (5, 1, "2024-01-01 13:00:00", 100),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts_s", "v"]).select(
        "event_id", "user_id", F.to_timestamp("ts_s").alias("ts"),
        F.col("v").cast("long").alias("v"),
    )
    out = {
        r.event_id: (r.rolling_n, r.rolling_sum)
        for r in rolling_window_sum(
            ev, key_cols=["user_id"], value_col="v", window_s=3600
        ).collect()
    }
    assert out[1] == (1, 10)
    assert out[2] == (2, 30)
    assert out[3] == (3, 32) and out[4] == (3, 32)  # tie shares the frame
    assert out[5] == (1, 100)


def test_rolling_window_sum_binned_equals_plain(spark):
    """The skew-parallel binned decomposition must reproduce the plain
    RANGE-frame operator exactly — including ties at the event time,
    events at EXACTLY window_s ago (inclusive frame edge, which is also
    a bin boundary by construction), multi-key frames, and empty
    previous bins."""
    from python_etl_mailing_automation_spark.operators.aggregates import (
        rolling_window_sum,
        rolling_window_sum_binned,
    )

    W = 3600
    # seconds offsets engineered to hit: same-bin runs, exact-W lookback
    # (event at t and t-W in adjacent bins), ties, bin-boundary events,
    # gaps that skip whole bins
    offsets = [0, 1, 5, 3599, 3600, 3601, 7200, 7200, 7201, 10799,
               10800, 14500, 25000, 25000]
    rows = []
    eid = 0
    for user in (1, 2):
        for off in offsets:
            eid += 1
            rows.append((eid, user, off + user, (eid % 7) + 1))
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "off", "v"]
    ).select(
        "event_id",
        "user_id",
        F.to_timestamp(
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("off"))
        ).alias("ts"),
        F.col("v").cast("long").alias("v"),
    )
    plain = {
        r.event_id: (r.rolling_n, r.rolling_sum)
        for r in rolling_window_sum(
            ev, key_cols=["user_id"], value_col="v", window_s=W
        ).collect()
    }
    binned = {
        r.event_id: (r.rolling_n, r.rolling_sum)
        for r in rolling_window_sum_binned(
            ev,
            key_cols=["user_id"],
            id_col="event_id",
            value_col="v",
            window_s=W,
        ).collect()
    }
    assert binned == plain
    # schema parity for the downstream query surface
    assert set(binned) == {r[0] for r in rows}


def test_fk_orphan_stats_detects_missing_parents(spark):
    from python_etl_mailing_automation_spark.pipeline.diagnostics import (
        fk_orphan_stats,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id int, fk int"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk int")
    out = {
        r.relation: (r.n_rows, r.n_orphans)
        for r in fk_orphan_stats(
            [("c->p", child, "fk", parent, "pk")]
        ).collect()
    }
    # null FK rows are excluded from the audit; 99 is the orphan
    assert out == {"c->p": (3, 1)}


def test_anti_join_not_in_three_valued_logic(spark):
    from python_etl_mailing_automation_spark.operators.joins import (
        anti_join_not_in,
    )

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (None,)], "k int"
    )
    empty = spark.createDataFrame([], "bk int")
    some = spark.createDataFrame([(2,)], "bk int")
    with_null = spark.createDataFrame([(2,), (None,)], "bk int")

    def run(keys):
        return {
            r.k
            for r in anti_join_not_in(
                df, keys, df_key="k", keys_key="bk"
            ).collect()
        }

    # empty subquery: everything kept, NULL probe included
    assert run(empty) == {1, 2, 3, None}
    # plain: match dropped, NULL probe dropped (x NOT IN S is UNKNOWN)
    assert run(some) == {1, 3}
    # NULL in subquery: unsatisfiable for every row
    assert run(with_null) == set()


def test_snapshot_diff_classification(spark):
    from python_etl_mailing_automation_spark.operators.dedup import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k int, name string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),      # unchanged -> dropped
         (2, "b2", 21),     # two columns changed
         (3, "c", 30),      # NULL -> value counts as change
         (5, "e", 50)],     # insert; 4 deleted
        "k int, name string, v int",
    )
    out = {r.k: (r.op, r.changed) for r in
           snapshot_diff(old, new, key="k").collect()}
    assert out == {
        2: ("update", "name,v"),
        3: ("update", "v"),
        4: ("delete", ""),
        5: ("insert", ""),
    }


def test_pointer_jump_roots_forest_and_cycle(spark):
    import pytest as _pytest

    from python_etl_mailing_automation_spark.operators.hierarchy import (
        pointer_jump_roots,
    )

    # two trees: 1<-2<-4<-8 chain and 3 root with children 6,7; NULL
    # parent also means root
    edges = spark.createDataFrame(
        [(1, 1), (2, 1), (4, 2), (8, 4), (3, None), (6, 3), (7, 3)],
        "node int, parent int",
    )
    out = {r.node: (r.root, r.depth) for r in pointer_jump_roots(edges).collect()}
    assert out == {
        1: (1, 0), 2: (1, 1), 4: (1, 2), 8: (1, 3),
        3: (3, 0), 6: (3, 1), 7: (3, 1),
    }
    # a 3-cycle must raise, not silently self-resolve
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (9, 9)], "node int, parent int"
    )
    with _pytest.raises(ValueError, match="cycle"):
        pointer_jump_roots(cyc)


def test_morton_key_interleaves_and_preserves_locality(spark):
    import pytest as _pytest

    from python_etl_mailing_automation_spark.operators.ordering import (
        morton_key,
    )

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5), (65535, 65535)],
        "x long, y long",
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", morton_key("x", "y").alias("z")).collect()
    }
    # hand-interleaved: bit i of x -> 2i, bit i of y -> 2i+1
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1 and got[(0, 1)] == 2
    assert got[(1, 1)] == 3
    # x=3 (11), y=5 (101): z = 1+2? no: x bits at 0,2 -> 1+4=5; y bits
    # at positions 1,5 (y bits 0 and 2) -> 2+32=34; total 39
    assert got[(3, 5)] == 39
    assert got[(65535, 65535)] == (1 << 32) - 1
    with _pytest.raises(ValueError):
        morton_key("x", "y", bits=40)


def test_pointer_jump_roots_dangling_parent_raises(spark):
    import pytest as _pytest

    from python_etl_mailing_automation_spark.operators.hierarchy import (
        pointer_jump_roots,
    )

    # parent 99 has no node row: must raise, not silently drop node 3
    edges = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 99)], "node int, parent int"
    )
    with _pytest.raises(ValueError, match="dangling"):
        pointer_jump_roots(edges)


def test_fuzzy_join_edit_rejects_shared_column_names(spark):
    import pytest as _pytest

    from python_etl_mailing_automation_spark.operators.linkage import (
        fuzzy_join_edit,
    )

    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    with _pytest.raises(ValueError, match="disjoint"):
        fuzzy_join_edit(
            df, df, left_id="id", right_id="id",
            left_col="name", right_col="name",
        )


def test_snapshot_diff_null_keys(spark):
    from python_etl_mailing_automation_spark.operators.dedup import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(None, "x", 1), (1, "a", 1)], "k int, name string, v int"
    )
    new = spark.createDataFrame([(1, "a", 1)], "k int, name string, v int")
    out = {r.k: r.op for r in snapshot_diff(old, new, key="k").collect()}
    # the NULL-key entity disappeared -> delete, not a phantom update
    assert out == {None: "delete"}
    # NULL key present in both with a change -> update
    new2 = spark.createDataFrame(
        [(None, "y", 1), (1, "a", 1)], "k int, name string, v int"
    )
    out2 = {(r.k, r.op, r.changed) for r in snapshot_diff(old, new2, key="k").collect()}
    assert out2 == {(None, "update", "name")}


def test_scd2_intervals_history_semantics(spark):
    """Hand change log: intervals chain (valid_to = next valid_from),
    exactly one current row per key, version is 1-based change order,
    ties break on the tiebreak column, NULL timestamps are dropped."""
    from pyspark.sql import functions as F

    from python_etl_mailing_automation_spark.operators.dedup import (
        scd2_intervals,
    )

    rows = [
        ("k1", 1, 10.0), ("k1", 2, 20.0), ("k1", 3, 30.0),
        ("k2", 4, 10.0), ("k2", 5, 10.0),        # tie -> id order
        ("k3", 6, None),                          # dropped
    ]
    df = spark.createDataFrame(rows, "k string, id int, sec double").select(
        "k", "id", F.timestamp_seconds("sec").alias("ts")
    )
    out = scd2_intervals(df, key="k", ts_col="ts", tiebreak="id").collect()
    byk = {}
    for r in out:
        byk.setdefault(r.k, []).append(r)
    assert "k3" not in byk
    k1 = sorted(byk["k1"], key=lambda r: r.version)
    assert [r.id for r in k1] == [1, 2, 3]
    assert [r.is_current for r in k1] == [False, False, True]
    for prev, nxt in zip(k1, k1[1:]):
        assert prev.valid_to == nxt.valid_from
    k2 = sorted(byk["k2"], key=lambda r: r.version)
    assert [r.id for r in k2] == [4, 5]          # tiebreak ordering
    assert sum(r.is_current for r in out) == 2   # one current per key


def test_join_delta_equals_full_join_subtraction(spark):
    """The three-term delta equals (A∪ΔA)⋈(B∪ΔB) minus A⋈B under bag
    semantics, including duplicate multiplicities."""
    from collections import Counter

    from python_etl_mailing_automation_spark.operators.joins import join_delta

    a0 = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b2")], "k int, va string")
    da = spark.createDataFrame([(2, "b3"), (3, "c")], "k int, va string")
    b0 = spark.createDataFrame([(1, "x"), (2, "y"), (2, "y")], "k int, vb string")
    db = spark.createDataFrame([(2, "z"), (3, "w")], "k int, vb string")
    delta = Counter(
        (r.k, r.va, r.vb)
        for r in join_delta(a0, da, b0, db, on="k").collect()
    )
    full = Counter(
        (r.k, r.va, r.vb)
        for r in a0.unionByName(da).join(b0.unionByName(db), on="k").collect()
    )
    old = Counter(
        (r.k, r.va, r.vb) for r in a0.join(b0, on="k").collect()
    )
    assert delta == full - old and sum(delta.values()) > 0


def test_cdc_apply_merge_with_deletes(spark):
    """Full MERGE: unmatched base keys persist, the latest log fact
    per key wins (ts, then tiebreak), a winning 'D' removes the key
    (matched-delete), a log-only key inserts unless its last op is a
    delete, and a delete followed by a later upsert re-inserts."""
    from python_etl_mailing_automation_spark.operators.dedup import cdc_apply

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    log = spark.createDataFrame(
        [
            (1, "a2", "2024-01-01", "U", 1),
            (1, "a3", "2024-01-02", "U", 1),   # latest wins
            (2, None, "2024-01-01", "D", 1),   # matched delete
            (4, "d1", "2024-01-01", "U", 1),   # insert
            (5, "e1", "2024-01-01", "U", 1),
            (5, None, "2024-01-02", "D", 1),   # insert then delete -> gone
            (3, None, "2024-01-01", "D", 1),
            (3, "c2", "2024-01-02", "U", 1),   # delete then re-insert
            (6, "x1", "2024-01-01", "U", 1),   # same-ts tie: tiebreak
            (6, "x2", "2024-01-01", "U", 2),
        ],
        "k int, v string, ts_s string, op string, seq int",
    ).select("k", "v", F.to_date("ts_s").alias("ts"), "op", "seq")
    out = {
        r.k: r.v
        for r in cdc_apply(
            base, log, key="k", ts_col="ts", op_col="op", tiebreak="seq"
        ).collect()
    }
    assert out == {1: "a3", 3: "c2", 4: "d1", 6: "x2"}


def test_constraint_report_counts(spark):
    """Every constraint kind counts exactly its violations; NULLs are
    not range/accepted/regexp violations; unique counts rows beyond
    the first; fk counts non-NULL orphans."""
    import pytest as _pytest
    from python_etl_mailing_automation_spark.datapipe.quality import (
        constraint_report,
    )

    df = spark.createDataFrame(
        [
            (1, 5.0, "O", "1-URGENT"),
            (1, -2.0, "X", "bad"),
            (None, 99999.0, None, None),
            (2, None, "F", "5-LOW"),
        ],
        "k int, v double, s string, p string",
    )
    dim = spark.createDataFrame([(1,)], "d int")
    rep = {
        (r.constraint, r.column): (r.violations, r.n_rows)
        for r in constraint_report(
            df,
            [
                ("not_null", "k"),
                ("range", "v", 0.0, 100.0),
                ("accepted", "s", ["O", "F"]),
                ("regexp", "p", "^[1-5]-"),
                ("unique", "k"),
                ("fk", "k", "dim"),
            ],
            fk_tables={"dim": (dim, "d")},
        ).collect()
    }
    assert rep[("not_null", "k")] == (1, 4)
    assert rep[("range", "v")] == (2, 4)      # -2 and 99999; NULL passes
    assert rep[("accepted", "s")] == (1, 4)   # X; NULL passes
    assert rep[("regexp", "p")] == (1, 4)     # bad; NULL passes
    assert rep[("unique", "k")] == (1, 4)     # two 1s -> 1 extra
    assert rep[("fk", "k")] == (1, 4)         # the 2; NULL not an orphan

    with _pytest.raises(ValueError):
        constraint_report(df, [])
    with _pytest.raises(ValueError):
        constraint_report(df, [("nope", "k")])

    # an EMPTY batch reports 0 violations everywhere (clean), never
    # NULL (unknown/poisoned) — `violations == 0` gates must fire
    empty = df.limit(0)
    rep0 = {
        (r.constraint, r.column): (r.violations, r.n_rows)
        for r in constraint_report(
            empty,
            [
                ("not_null", "k"),
                ("range", "v", 0.0, 100.0),
                ("unique", "k"),
                ("fk", "k", "dim"),
            ],
            fk_tables={"dim": (dim, "d")},
        ).collect()
    }
    assert all(v == (0, 0) for v in rep0.values())


def test_constraint_offenders_deterministic_samples(spark):
    """Each violated constraint yields at most k offender rows, chosen
    by md5(row id) — reproducible, never scan-order; clean constraints
    yield no rows; shares the violation predicates with the report
    (same rows flagged)."""
    import hashlib

    from python_etl_mailing_automation_spark.datapipe.quality import (
        constraint_offenders,
    )

    df = spark.createDataFrame(
        [(i, -float(i) if i % 2 else float(i), "X" if i % 5 == 0 else "O")
         for i in range(1, 21)],
        "id int, v double, s string",
    )
    out = constraint_offenders(
        df,
        [
            ("range", "v", 0.0, 100.0),
            ("accepted", "s", ["O"]),
            ("not_null", "id"),
        ],
        id_col="id",
        k=3,
    ).collect()
    by_c = {}
    for r in out:
        by_c.setdefault(r.constraint, []).append(r.row_id)
    # 10 negative v, capped at 3; 4 X rows, capped at 3; id never null
    assert len(by_c["range"]) == 3 and len(by_c["accepted"]) == 3
    assert "not_null" not in by_c
    neg_ids = [str(i) for i in range(1, 21) if i % 2]
    expect = sorted(neg_ids, key=lambda s: (hashlib.md5(s.encode()).hexdigest(), s))[:3]
    assert sorted(by_c["range"]) == sorted(expect)


def test_merge_agg_states_equals_direct(spark):
    """Partial states from arbitrary batch splits merge to exactly the
    direct full aggregate (decimal sums — order-independent); empty
    state list and empty col spec raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from python_etl_mailing_automation_spark.operators.aggregates import (
        merge_agg_states,
    )

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(20)] + [("b", 1, 5.0)],
        "k string, n int, v double",
    ).withColumn("dv", F.col("v").cast("decimal(38,2)"))

    def state(d):
        return d.groupBy("k").agg(
            F.sum("dv").alias("s"), F.count(F.lit(1)).cast("long").alias("c")
        )

    parts = [
        state(df.filter(F.col("n") % 3 == i)) for i in range(3)
    ]
    merged = {
        (r.k): (r.s, r.c)
        for r in merge_agg_states(
            parts, ["k"], sum_cols=["s"], count_col="c"
        ).collect()
    }
    direct = {(r.k): (r.s, r.c) for r in state(df).collect()}
    assert merged == direct

    with _pytest.raises(ValueError):
        merge_agg_states([], ["k"], sum_cols=["s"])
    with _pytest.raises(ValueError):
        merge_agg_states(parts, ["k"], sum_cols=[])


def test_apply_agg_delta_matches_rescan(spark):
    """Incremental fold of an insert+delete changelog equals a
    from-scratch re-aggregation: deleted-to-zero groups vanish, new
    groups appear, sums stay decimal-exact; an over-retraction
    surfaces as a negative count rather than a silent clamp."""
    import pytest
    from decimal import Decimal

    from python_etl_mailing_automation_spark.operators.aggregates import (
        apply_agg_delta,
    )

    base_rows = spark.createDataFrame(
        [("a", 1.5), ("a", 2.5), ("b", 4.0)], "k string, v double"
    ).select("k", F.col("v").cast("decimal(18,2)").alias("v"))
    base = base_rows.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").alias("v"),
    )
    changelog = spark.createDataFrame(
        [
            ("a", 2.5, "D"),   # retract one of a's rows
            ("b", 4.0, "D"),   # b drops to zero rows → group vanishes
            ("c", 9.0, "I"),   # brand-new group
        ],
        "k string, v double, op string",
    ).select("k", F.col("v").cast("decimal(18,2)").alias("v"), "op")
    out = {
        r.k: (r.n_rows, r.v)
        for r in apply_agg_delta(
            base, changelog, ["k"], sum_cols=["v"]
        ).collect()
    }
    assert out == {
        "a": (1, Decimal("1.50")),
        "c": (1, Decimal("9.00")),
    }
    over = apply_agg_delta(
        base,
        changelog.unionByName(
            spark.createDataFrame([("b", 1.0, "D")], "k string, v double, op string")
            .select("k", F.col("v").cast("decimal(18,2)").alias("v"), "op")
        ),
        ["k"],
        sum_cols=["v"],
    )
    assert {r.k: r.n_rows for r in over.collect()}["b"] == -1
    with pytest.raises(ValueError):
        apply_agg_delta(base, changelog, ["k"], sum_cols=[])


def test_band_join_self_matches_brute_force(spark):
    from python_etl_mailing_automation_spark.operators.joins import band_join_self
    import itertools

    rows = [
        # key, id, value — includes negatives (div-vs-floor bucket
        # corners), exact-delta gaps, and a cross-key decoy
        ("k", 1, -301), ("k", 2, -299), ("k", 3, -1), ("k", 4, 0),
        ("k", 5, 299), ("k", 6, 300), ("k", 7, 601), ("k", 8, 899),
        ("j", 9, 0), ("k", 10, None), (None, 11, 5),
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {
        (r.g, r.id_a, r.id_b, r.gap)
        for r in band_join_self(df, "id", "v", delta=300, key_col="g").collect()
    }
    clean = [(g, i, v) for g, i, v in rows if g is not None and v is not None]
    expect = {
        (g1, min(i1, i2), max(i1, i2), abs(v1 - v2))
        for (g1, i1, v1), (g2, i2, v2) in itertools.combinations(clean, 2)
        if g1 == g2 and abs(v1 - v2) <= 300
    }
    assert got == expect
    # boundary: gap == delta is IN, delta+1 is out
    assert ("k", 5, 6, 1) in got and ("k", 6, 7, 301) not in got


def test_running_distinct_counts_first_occurrences(spark):
    from python_etl_mailing_automation_spark.operators.aggregates import (
        running_distinct,
    )

    rows = [
        ("k", 1, "a"), ("k", 2, "b"), ("k", 3, "a"), ("k", 4, None),
        ("k", 5, "c"), ("j", 1, "a"),
    ]
    df = spark.createDataFrame(rows, "g string, t int, v string")
    got = {
        (r.g, r.t, r.n_distinct_so_far)
        for r in running_distinct(df, "g", "t", "v").collect()
    }
    assert got == {
        ("k", 1, 1), ("k", 2, 2), ("k", 3, 2), ("k", 4, 2), ("k", 5, 3),
        ("j", 1, 1),
    }


def test_islands_collapses_consecutive_runs(spark):
    from python_etl_mailing_automation_spark.operators.aggregates import islands

    rows = [
        ("k", 1), ("k", 2), ("k", 2), ("k", 3),   # island 1-3, dup 2
        ("k", 7), ("k", 8),                        # island 7-8
        ("k", 12),                                 # singleton
        ("j", 5), ("j", 6), ("k", None),
    ]
    df = spark.createDataFrame(rows, "g string, v int")
    got = {
        (r.g, r.island_start, r.island_end, r.n_values, r.n_rows)
        for r in islands(df, "g", "v").collect()
    }
    assert got == {
        ("k", 1, 3, 3, 4),
        ("k", 7, 8, 2, 2),
        ("k", 12, 12, 1, 1),
        ("j", 5, 6, 2, 2),
    }


def test_hilbert_key_matches_reference_and_is_continuous(spark):
    """with_hilbert_key equals the classic full-width xy2d state
    machine (the confined-value rewrite is congruent mod s), and
    consecutive indexes on the 8x8 grid are Manhattan-adjacent — the
    locality property Z-order lacks."""
    from python_etl_mailing_automation_spark.operators.ordering import (
        with_hilbert_key,
    )

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    import random

    random.seed(3)
    pts = [(random.randrange(1 << 16), random.randrange(1 << 16))
           for _ in range(64)]
    pts += [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r.x, r.y): r.hkey
           for r in with_hilbert_key(df, "x", "y", bits=16).collect()}
    for x, y in pts:
        assert got[(x, y)] == xy2d(1 << 16, x, y), (x, y)

    grid = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long"
    )
    g3 = {(r.x, r.y): r.hkey
          for r in with_hilbert_key(grid, "x", "y", bits=3).collect()}
    inv = {d: xy for xy, d in g3.items()}
    assert sorted(inv) == list(range(64))  # a bijection onto 0..63
    for d in range(63):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1
    import pytest

    with pytest.raises(ValueError):
        with_hilbert_key(grid, "x", "y", bits=0)


def test_sequence_pattern_counts_semantics(spark):
    """Non-overlapping leftmost matching, unmapped types dropped
    without breaking adjacency, '' when a key never matches, and the
    one-char mapping validation."""
    import pytest

    from python_etl_mailing_automation_spark.operators.funnel import (
        sequence_pattern_counts,
    )

    rows = [
        # key 1: v c c p v p  -> two matches of vc*p
        (1, 1, "view"), (1, 2, "click"), (1, 3, "click"), (1, 4, "purchase"),
        (1, 5, "view"), (1, 6, "purchase"),
        # key 2: unmapped 'x' between v and p is DROPPED -> still vp
        (2, 1, "view"), (2, 2, "x"), (2, 3, "purchase"),
        # key 3: p v c -> no match
        (3, 1, "purchase"), (3, 2, "view"), (3, 3, "click"),
    ]
    df = spark.createDataFrame(rows, "key long, ts long, t string")
    out = {
        r.key: (r.seq_len, r.n_matches, r.first_match)
        for r in sequence_pattern_counts(
            df, "key", "ts", "t",
            mapping={"view": "v", "click": "c", "purchase": "p"},
            pattern="vc*p",
            order_cols=["ts"],
        ).collect()
    }
    assert out[1] == (6, 2, "vccp")
    assert out[2] == (2, 1, "vp")
    assert out[3] == (3, 0, "")
    with pytest.raises(ValueError):
        sequence_pattern_counts(
            df, "key", "ts", "t", mapping={"view": "vv"}, pattern="v"
        )
    with pytest.raises(ValueError):
        sequence_pattern_counts(df, "key", "ts", "t", mapping={}, pattern="v")


def test_subtree_rollup_closure_squaring(spark):
    """Every node sums its whole descendant subtree (itself included);
    out-of-set parents make roots; a cyclic 'hierarchy' raises instead
    of silently double-counting."""
    import pytest

    from python_etl_mailing_automation_spark.operators.hierarchy import (
        subtree_rollup,
    )

    rows = [
        (1, None, 10), (2, 1, 20), (3, 1, 30), (4, 2, 40), (5, 2, 50),
        (6, 3, 60), (7, None, 70), (8, 99, 80),  # 99 not a node -> root
    ]
    df = spark.createDataFrame(rows, "node long, parent long, value long")
    out = {
        r.node: (r.subtree_sum, r.subtree_nodes)
        for r in subtree_rollup(df).collect()
    }
    assert out == {
        1: (210, 6), 2: (110, 3), 3: (90, 2), 4: (40, 1), 5: (50, 1),
        6: (60, 1), 7: (70, 1), 8: (80, 1),
    }
    # depth-5 path needs only ceil(log2(5)) = 3 squarings
    path = spark.createDataFrame(
        [(i, i - 1 if i > 0 else None, 1) for i in range(6)],
        "node long, parent long, value long",
    )
    pout = {r.node: r.subtree_sum for r in subtree_rollup(path).collect()}
    assert pout[0] == 6 and pout[5] == 1
    cyc = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1)], "node long, parent long, value long"
    )
    with pytest.raises(ValueError, match="cycle"):
        subtree_rollup(cyc)


def test_topk_with_others_rollup(spark):
    """Head rows keep their rank/totals, the tail collapses into one
    OTHER row at rank k+1 with its key count, groups with <= k keys
    get no OTHER row, and validation raises."""
    import pytest

    from python_etl_mailing_automation_spark.operators.aggregates import (
        topk_with_others,
    )

    rows = [("g", f"k{i}", v) for i, v in enumerate([50, 40, 30, 5, 4, 3, 2])]
    rows += [("h", "a", 10), ("h", "b", 20)]
    df = spark.createDataFrame(rows, "g string, key string, v long")
    out = {
        (r.g, r.label): (r.rank, r.total, r.n_keys)
        for r in topk_with_others(df, "g", "key", F.col("v"), k=3).collect()
    }
    assert out[("g", "k0")] == (1, 50, 1)
    assert out[("g", "OTHER")] == (4, 14, 4)
    assert ("h", "OTHER") not in out and out[("h", "b")] == (1, 20, 1)
    with pytest.raises(ValueError):
        topk_with_others(df, "g", "key", F.col("v"), k=0)
