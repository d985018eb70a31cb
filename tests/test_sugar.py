"""Dialect front tests — mirrors the reference's parser/planner tests
(query/parser/parser_test.go:10-59, query/executor/planner_test.go:13-88)."""

import pytest

from boostdb_spark.plans import sugar
from boostdb_spark.plans.sugar import SeriesFamilyBinding, parse


def test_parse_fields_value_sugar():
    # parser_test.go:20-26 — `select a, b from j.s testAlias` with value sugar
    q = parse("SELECT a, b FROM j.s testAlias")
    assert [f.parts for f in q.fields] == [("a",), ("b",)]
    assert (q.domain, q.family, q.source_alias) == ("j", "s", "testAlias")
    assert q.where is None


def test_parse_where_tree():
    # parser_test.go:38-49 analog
    q = parse("SELECT a FROM j.s WHERE a < 100.0 AND (a.host = 'h1' OR a >= 5)")
    assert q.where is not None
    assert q.where.kind == "and"


def test_parse_attr_and_alias_resolution():
    q = parse("SELECT al.cpu.host, al.cpu FROM d.f al WHERE al.cpu < 10")
    b = SeriesFamilyBinding(view="v", series_col="series")
    res = sugar._Resolver(q, b)
    assert res.resolve(q.fields[0]) == ("cpu", "host")
    assert res.resolve(q.fields[1]) == ("cpu", "value")


def test_parse_extended_predicates():
    q = parse(
        "SELECT a FROM d.f WHERE a BETWEEN 1 AND 5 OR a.tag IN ('x','y') "
        "OR a.tag LIKE 'h%' OR a IS NOT NULL OR NOT a = 3"
    )
    assert q.where is not None


def test_parse_group_order_limit():
    q = parse("SELECT a.host, a FROM d.f GROUP BY a.host ORDER BY a DESC LIMIT 5")
    assert [f.parts for f in q.group_by] == [("a", "host")]
    assert q.order_by[0][1] is True
    assert q.limit == 5


def test_parse_aggregate_calls():
    q = parse(
        "SELECT a.host, count(*), sum(a) AS total, avg(a) FROM d.f GROUP BY a.host"
    )
    assert [f.func for f in q.fields] == [None, "count", "sum", "avg"]
    assert q.fields[1].parts == ()
    assert q.fields[2].alias == "total"
    with pytest.raises(ValueError):
        parse("SELECT sum(*) FROM d.f")


def test_plan_grouped_aggregates(spark):
    import tests.conftest as cfg
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING

    load_tables(spark, cfg.SF_DIR)
    df = sugar.query(
        spark,
        "SELECT click.user_id, count(*) AS n, max(click) AS peak "
        "FROM boost.events GROUP BY click.user_id",
        EVENTS_BINDING,
    )
    assert df.columns == ["user_id", "n", "peak"]
    rows = {r["user_id"]: (r["n"], r["peak"]) for r in df.collect()}
    ev = spark.table("events").filter("event_type = 'click'")
    import pyspark.sql.functions as F

    want = {
        r["user_id"]: (r["n"], r["peak"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("value").alias("peak"))
        .collect()
    }
    assert rows == want and len(rows) > 0


def test_plan_global_aggregate(spark):
    import tests.conftest as cfg
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING

    load_tables(spark, cfg.SF_DIR)
    df = sugar.query(
        spark, "SELECT count(*) AS n FROM boost.events WHERE click > 50", EVENTS_BINDING
    )
    [row] = df.collect()
    want = spark.table("events").filter(
        "event_type = 'click' AND value > 50"
    ).count()
    assert row["n"] == want > 0


def test_parse_rejects_bad_sql():
    # explicit names required (selectfieldparser.go:108-114)
    with pytest.raises(ValueError):
        parse("SELECT FROM d.f")
    # a bare FROM name parses (it may reference a WITH clause) but
    # planning without a matching CTE enforces the qualified-source
    # rule (parser.go:36-38)
    q = parse("SELECT a FROM unqualified")
    with pytest.raises(ValueError, match="WITH clause"):
        sugar.plan(None, q, None)
    with pytest.raises(ValueError):
        parse("SELECT a FROM d.f.extra")


def test_plan_executes_flagship(spark):
    import tests.conftest as cfg
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING, S_NS, E_NS

    load_tables(spark, cfg.SF_DIR)
    df = sugar.query(
        spark,
        "SELECT click.user_id, click FROM boost.events WHERE click < 100.0",
        EVENTS_BINDING,
        start=S_NS,
        end=E_NS,
    )
    assert df.columns == ["user_id", "value"]
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.value < 100.0 for r in rows)


def test_plan_pushes_filters_to_scan(spark):
    """The series + time predicates must reach the parquet scan
    (PushedFilters) — the scale guarantee partition pruning relies on."""
    import tests.conftest as cfg
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING, S_NS, E_NS

    load_tables(spark, cfg.SF_DIR)
    df = sugar.query(
        spark,
        "SELECT click FROM boost.events WHERE click < 100.0",
        EVENTS_BINDING,
        start=S_NS,
        end=E_NS,
    )
    plan_str = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan_str
    assert "IsNotNull(event_type)" in plan_str or "event_type" in plan_str


def test_parse_having_aggregate_call():
    q = parse(
        "SELECT a.host, count(*) AS n FROM d.f GROUP BY a.host "
        "HAVING count(*) > 2 AND avg(a) < 50 ORDER BY avg(a) DESC"
    )
    assert q.having is not None and q.having.kind == "and"
    refs = list(sugar._expr_refs(q.having))
    assert [r.func for r in refs] == ["count", "avg"]
    assert q.order_by[0][0].func == "avg"


def test_plan_having_and_orderby_aggregates(spark):
    """HAVING over select-alias, matched aggregate, and a hidden
    aggregate (avg not in the select list) all resolve; ORDER BY an
    aggregate call sorts by it; hidden columns are dropped."""
    import tests.conftest as cfg
    import pyspark.sql.functions as F
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING

    load_tables(spark, cfg.SF_DIR)
    df = sugar.query(
        spark,
        "SELECT click.user_id, count(*) AS n FROM boost.events "
        "GROUP BY click.user_id HAVING n > 1 AND avg(click) < 90 "
        "ORDER BY max(click) DESC, click.user_id LIMIT 5",
        EVENTS_BINDING,
    )
    assert df.columns == ["user_id", "n"]  # hidden aggs dropped
    got = [(r["user_id"], r["n"]) for r in df.collect()]
    ev = spark.table("events").filter("event_type = 'click'")
    want_df = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("a"),
            F.max("value").alias("m"),
        )
        .filter("n > 1 AND a < 90")
        .orderBy(F.col("m").desc(), F.col("user_id"))
        .limit(5)
    )
    want = [(r["user_id"], r["n"]) for r in want_df.collect()]
    assert got == want and len(got) > 0


def test_plan_having_rejects_ungrouped_column(spark):
    import tests.conftest as cfg
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING

    load_tables(spark, cfg.SF_DIR)
    with pytest.raises(ValueError, match="neither grouped nor aggregated"):
        sugar.query(
            spark,
            "SELECT count(*) AS n FROM boost.events "
            "GROUP BY click.user_id HAVING click.event_id > 5",
            EVENTS_BINDING,
        )


def test_parse_join_clause():
    # parser_test.go:51-59 analog: join + where parse together; ours
    # also records the equi pair (the reference drops it, AddJoinOp
    # empty body queryops.go:60-66)
    q = parse(
        "SELECT a.cpu.host, b.mem FROM d.f a JOIN d.g b ON a.host = b.host "
        "WHERE a.cpu < 100.0"
    )
    assert len(q.joins) == 1
    j = q.joins[0]
    assert (j.domain, j.family, j.alias, j.kind) == ("d", "g", "b", "inner")
    assert j.on[0][0].parts == ("a", "host") and j.on[0][1].parts == ("b", "host")
    assert q.where is not None

    q2 = parse("SELECT a.x.v FROM d.f a CROSS JOIN d.g b")
    assert q2.joins[0].kind == "cross" and q2.joins[0].on is None


def test_plan_dialect_join_executes(spark):
    """Dialect-front join end to end: purchase-to-error self-join on
    user_id — the implicit-join shape the reference acknowledges
    (parser.go:145-147) — must match the DataFrame-API join."""
    import tests.conftest as cfg
    import pyspark.sql.functions as F
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING

    load_tables(spark, cfg.SF_DIR)
    df = sugar.query(
        spark,
        "SELECT a.purchase.event_id AS pid, b.error.event_id AS eid "
        "FROM boost.events a JOIN boost.events b ON a.user_id = b.user_id",
        EVENTS_BINDING,
    )
    got = sorted((r["pid"], r["eid"]) for r in df.collect())
    ev = spark.table("events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id"
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("eid"), F.col("user_id").alias("u2")
    )
    want = sorted(
        (r["pid"], r["eid"])
        for r in p.join(e, p.user_id == e.u2).select("pid", "eid").collect()
    )
    assert got == want and len(got) > 0


def test_plan_dialect_join_unqualified_field_rejected(spark):
    import tests.conftest as cfg
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING

    load_tables(spark, cfg.SF_DIR)
    with pytest.raises(ValueError, match="source-qualified"):
        sugar.query(
            spark,
            "SELECT purchase.event_id FROM boost.events a "
            "JOIN boost.events b ON a.user_id = b.user_id",
            EVENTS_BINDING,
        )


def test_plan_dialect_join_two_bindings(spark, tmp_path):
    """Multi-table dialect join with a bindings dict: events joined to
    a second registered family with different canonical columns."""
    import pyspark.sql.functions as F
    import tests.conftest as cfg
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING

    load_tables(spark, cfg.SF_DIR)
    # second family: per-user limits, series column 'metric'
    lim = spark.createDataFrame(
        [("quota", 7, 100.0), ("quota", 8, 50.0), ("quota", 11, 75.0)],
        "metric STRING, user_id BIGINT, value DOUBLE",
    ).withColumn("mts", F.lit(0).cast("long"))
    lim.createOrReplaceTempView("user_limits")
    bindings = {
        "boost.events": EVENTS_BINDING,
        "boost.limits": sugar.SeriesFamilyBinding(
            view="user_limits", series_col="metric", value_col="value", ts_col="mts"
        ),
    }
    df = sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.quota AS limit_v "
        "FROM boost.events a JOIN boost.limits b ON a.user_id = b.user_id",
        bindings,
    )
    got = sorted((r["eid"], r["limit_v"]) for r in df.collect())
    ev = spark.table("events").filter("event_type = 'click'")
    want = sorted(
        (r["event_id"], r["limit_v"])
        for r in ev.join(
            lim.filter("metric = 'quota'").select(
                "user_id", F.col("value").alias("limit_v")
            ),
            "user_id",
        ).select("event_id", "limit_v").collect()
    )
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# :name placeholder binding (reference named-literal machinery,
# query/base/literalintexpression.go:9-113 / expressionstate.go:6-19)
# ---------------------------------------------------------------------------


def test_parse_placeholder_operand():
    q = parse("SELECT a FROM d.f WHERE a < :thr AND a.tag IN (:t1, 'x')")
    assert q.where.kind == "and"
    cmp_, in_ = q.where.children
    assert cmp_.children[1].kind == "param"
    assert cmp_.children[1].value == "thr"
    assert in_.children[1].kind == "param"


def test_plan_placeholder_binds_and_rebinds(spark):
    from boostdb_spark.suite import EVENTS_BINDING

    sql = "SELECT click.event_id FROM boost.events WHERE click < :thr"
    for thr in (10.0, 50.0):
        got = {
            r["event_id"]
            for r in sugar.query(
                spark, sql, EVENTS_BINDING, params={"thr": thr}
            ).collect()
        }
        want = {
            r["event_id"]
            for r in spark.table("events")
            .filter(f"event_type = 'click' AND value < {thr}")
            .collect()
        }
        assert got == want


def test_plan_unbound_placeholder_rejected(spark):
    from boostdb_spark.suite import EVENTS_BINDING

    with pytest.raises(ValueError, match="unbound placeholder :thr"):
        sugar.query(
            spark,
            "SELECT click FROM boost.events WHERE click < :thr",
            EVENTS_BINDING,
        )


# ---------------------------------------------------------------------------
# SELECT * (rejected by the reference, selectfieldparser.go:108-114)
# ---------------------------------------------------------------------------


def test_parse_select_star():
    q = parse("SELECT * FROM d.f WHERE a < 5")
    assert q.star and q.fields == []
    with pytest.raises(ValueError, match="single-source"):
        parse("SELECT * FROM d.f GROUP BY a")


def test_plan_select_star_expands_all_columns(spark):
    from boostdb_spark.suite import EVENTS_BINDING

    df = sugar.query(
        spark, "SELECT * FROM boost.events WHERE click < 20.0", EVENTS_BINDING
    )
    assert set(df.columns) == set(spark.table("events").columns)
    want = spark.table("events").filter("event_type = 'click' AND value < 20.0")
    assert df.count() == want.count() > 0


def test_orderby_alias_not_value_sugar(spark):
    """ORDER BY a select alias must target that output column, not fall
    through name sugar to the series value column."""
    from boostdb_spark.suite import EVENTS_BINDING

    df = sugar.query(
        spark,
        "SELECT click.event_id AS eid, click AS v FROM boost.events "
        "ORDER BY eid DESC LIMIT 5",
        EVENTS_BINDING,
    )
    got = [r["eid"] for r in df.collect()]
    want = sorted(
        (
            r["event_id"]
            for r in spark.table("events").filter("event_type='click'").collect()
        ),
        reverse=True,
    )[:5]
    assert got == want


def test_placeholders_in_list_between_having(spark):
    """Placeholders everywhere a literal can sit: IN lists (mixed with
    constants), both BETWEEN bounds, and HAVING thresholds — each must
    match the equivalent constant query."""
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING
    from tests.conftest import SF_DIR

    load_tables(spark, SF_DIR)
    df = sugar.query(
        spark,
        "SELECT click.event_id FROM boost.events "
        "WHERE click.user_id IN (:u1, 7, :u2)",
        EVENTS_BINDING, params={"u1": 11, "u2": 42},
    )
    want = spark.table("events").filter(
        "event_type='click' AND user_id IN (11, 7, 42)"
    )
    assert df.count() == want.count() > 0

    df2 = sugar.query(
        spark,
        "SELECT click FROM boost.events WHERE click BETWEEN :lo AND :hi",
        EVENTS_BINDING, params={"lo": 10.0, "hi": 20.0},
    )
    want2 = spark.table("events").filter(
        "event_type='click' AND value BETWEEN 10.0 AND 20.0"
    )
    assert df2.count() == want2.count() > 0

    df3 = sugar.query(
        spark,
        "SELECT click.user_id, count(*) AS n FROM boost.events "
        "GROUP BY click.user_id HAVING n > :thr",
        EVENTS_BINDING, params={"thr": 2},
    )
    want3 = (
        spark.table("events").filter("event_type='click'")
        .groupBy("user_id").count().filter("count > 2")
    )
    assert df3.count() == want3.count() > 0


def test_parse_window_spec():
    q = parse(
        "SELECT rank() OVER (PARTITION BY s.host ORDER BY s DESC) AS r "
        "FROM d.s"
    )
    f = q.fields[0]
    assert f.func == "rank" and f.window is not None
    assert [p.parts for p in f.window.partition_by] == [("s", "host")]
    assert f.window.order_by[0][1] is True  # DESC


def test_parse_rank_requires_over():
    with pytest.raises(ValueError, match="OVER"):
        parse("SELECT rank() FROM d.s")


def test_parse_nav_funcs_take_column_and_require_over():
    q = parse("SELECT lag(s) OVER (PARTITION BY s.h ORDER BY s.i) FROM d.s")
    assert q.fields[0].func == "lag" and q.fields[0].parts == ("s",)
    with pytest.raises(ValueError, match="OVER"):
        parse("SELECT lead(s) FROM d.s")


def test_parse_left_join():
    q = parse(
        "SELECT a.s.x FROM d.f a LEFT OUTER JOIN d.g b ON a.s.x = b.t.y"
    )
    assert q.joins[0].kind == "left"
    q2 = parse("SELECT a.s.x FROM d.f a LEFT JOIN d.g b ON a.s.x = b.t.y")
    assert q2.joins[0].kind == "left"


def test_window_cannot_mix_with_groupby(spark):
    from tests.conftest import SF_DIR

    b = SeriesFamilyBinding(
        view="events", series_col="event_type", value_col="value", ts_col="ts"
    )
    spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView(
        "events"
    )
    with pytest.raises(ValueError, match="window functions cannot mix"):
        sugar.query(
            spark,
            "SELECT click.user_id, rank() OVER (PARTITION BY click.user_id "
            "ORDER BY click) FROM d.e GROUP BY click.user_id",
            b,
        )


def _events_binding(spark):
    from tests.conftest import SF_DIR

    spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView(
        "events"
    )
    return SeriesFamilyBinding(
        view="events", series_col="event_type", value_col="value", ts_col="ts"
    )


def test_parse_in_subquery():
    q = parse(
        "SELECT s.x FROM d.f WHERE s.x IN (SELECT t.y FROM d.g WHERE t > 1)"
    )
    assert q.where.kind == "in"
    assert q.where.children[1].kind == "subquery"
    sub = q.where.children[1].value
    assert sub.family == "g" and sub.where is not None


def test_parse_scalar_subquery():
    q = parse("SELECT s FROM d.f WHERE s > (SELECT avg(s) FROM d.f)")
    assert q.where.kind == "cmp"
    assert q.where.children[1].kind == "subquery"
    assert q.where.children[1].value.fields[0].func == "avg"


def test_dialect_in_subquery_matches_sql(spark):
    b = _events_binding(spark)
    got = sorted(
        map(
            tuple,
            sugar.query(
                spark,
                "SELECT purchase.user_id, purchase FROM boost.events "
                "WHERE purchase.user_id IN (SELECT signup.user_id "
                "FROM boost.events WHERE signup > 150.0)",
                b,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT user_id, value FROM events WHERE event_type = "
                "'purchase' AND user_id IN (SELECT user_id FROM events "
                "WHERE event_type = 'signup' AND value > 150.0)"
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_dialect_not_in_subquery_matches_anti_join(spark):
    b = _events_binding(spark)
    got = sorted(
        map(
            tuple,
            sugar.query(
                spark,
                "SELECT purchase.user_id, purchase FROM boost.events "
                "WHERE purchase.user_id NOT IN (SELECT signup.user_id "
                "FROM boost.events WHERE signup > 150.0)",
                b,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT user_id, value FROM events WHERE event_type = "
                "'purchase' AND user_id NOT IN (SELECT user_id FROM events "
                "WHERE event_type = 'signup' AND value > 150.0)"
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_dialect_scalar_subquery_matches_sql(spark):
    b = _events_binding(spark)
    got = sorted(
        map(
            tuple,
            sugar.query(
                spark,
                "SELECT click.user_id, click FROM boost.events "
                "WHERE click > (SELECT avg(click) FROM boost.events)",
                b,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT user_id, value FROM events WHERE event_type = "
                "'click' AND value > (SELECT avg(value) FROM events "
                "WHERE event_type = 'click')"
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_dialect_in_subquery_plans_semi_join_no_collect(spark):
    """The IN subquery must plan as a semi-join (decorrelated), with
    the subquery's filters pushed to its own scan."""
    b = _events_binding(spark)
    df = sugar.query(
        spark,
        "SELECT purchase.user_id FROM boost.events "
        "WHERE purchase.user_id IN (SELECT signup.user_id "
        "FROM boost.events WHERE signup > 150.0)",
        b,
    )
    plan_s = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan_s


def test_dialect_scalar_subquery_requires_aggregate(spark):
    b = _events_binding(spark)
    with pytest.raises(ValueError, match="ungrouped aggregate"):
        sugar.query(
            spark,
            "SELECT click FROM boost.events "
            "WHERE click > (SELECT click FROM boost.events)",
            b,
        ).collect()


def test_dialect_subquery_rejected_under_or(spark):
    b = _events_binding(spark)
    with pytest.raises(ValueError, match="top-level AND"):
        sugar.query(
            spark,
            "SELECT click FROM boost.events WHERE click < 1.0 OR "
            "click.user_id IN (SELECT signup.user_id FROM boost.events)",
            b,
        ).collect()


def test_parse_set_ops():
    q = parse(
        "SELECT s.x FROM d.f UNION ALL SELECT t.x FROM d.g "
        "EXCEPT SELECT u.x FROM d.h ORDER BY x DESC LIMIT 7"
    )
    assert [op for op, _ in q.set_ops] == ["union_all", "except"]
    assert q.set_ops[0][1].family == "g"
    assert q.order_by[0][1] is True and q.limit == 7
    # cores carry no order/limit of their own
    assert q.set_ops[0][1].order_by == [] and q.set_ops[0][1].limit is None


def test_dialect_union_matches_sql(spark):
    b = _events_binding(spark)
    got = sorted(
        map(
            tuple,
            sugar.query(
                spark,
                "SELECT click.user_id FROM boost.events WHERE click > 190.0 "
                "UNION SELECT error.user_id FROM boost.events "
                "WHERE error > 190.0",
                b,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT user_id FROM events WHERE event_type='click' AND "
                "value > 190.0 UNION SELECT user_id FROM events WHERE "
                "event_type='error' AND value > 190.0"
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_dialect_intersect_except_match_sql(spark):
    b = _events_binding(spark)
    for dial_op, sql_op in (("INTERSECT", "INTERSECT"), ("EXCEPT", "EXCEPT")):
        got = sorted(
            map(
                tuple,
                sugar.query(
                    spark,
                    "SELECT click.user_id FROM boost.events WHERE click > 150.0 "
                    f"{dial_op} SELECT signup.user_id FROM boost.events "
                    "WHERE signup > 150.0",
                    b,
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT user_id FROM events WHERE event_type='click' AND "
                    f"value > 150.0 {sql_op} SELECT user_id FROM events "
                    "WHERE event_type='signup' AND value > 150.0"
                ).collect(),
            )
        )
        assert got == want


def test_dialect_union_all_keeps_duplicates(spark):
    b = _events_binding(spark)
    n1 = sugar.query(
        spark, "SELECT click.user_id FROM boost.events", b
    ).count()
    both = sugar.query(
        spark,
        "SELECT click.user_id FROM boost.events "
        "UNION ALL SELECT click.user_id FROM boost.events",
        b,
    ).count()
    assert both == 2 * n1


def test_parse_window_frame_and_offset():
    q = parse(
        "SELECT sum(s) OVER (PARTITION BY s.k ORDER BY s.t "
        "ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING) AS w "
        "FROM d.f ORDER BY w LIMIT 10 OFFSET 20"
    )
    assert q.fields[0].window.frame == (-3, 1)
    assert q.limit == 10 and q.offset == 20
    q2 = parse(
        "SELECT sum(s) OVER (ORDER BY s.t ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) FROM d.f"
    )
    lo, hi = q2.fields[0].window.frame
    assert lo == -(2**63 - 1) and hi == 0


def test_rank_rejects_frame(spark):
    b = _events_binding(spark)
    with pytest.raises(ValueError, match="frame clause"):
        sugar.query(
            spark,
            "SELECT rank() OVER (PARTITION BY click.user_id ORDER BY click "
            "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM boost.events",
            b,
        )


def test_dialect_distinct_and_count_distinct(spark):
    b = _events_binding(spark)
    got = sorted(
        map(
            tuple,
            sugar.query(
                spark, "SELECT DISTINCT click.user_id FROM boost.events", b
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT DISTINCT user_id FROM events "
                "WHERE event_type = 'click'"
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    r = sugar.query(
        spark,
        "SELECT click.user_id, count(DISTINCT click.event_id) AS n "
        "FROM boost.events GROUP BY click.user_id",
        b,
    ).collect()
    want2 = spark.sql(
        "SELECT user_id, count(DISTINCT event_id) AS n FROM events "
        "WHERE event_type = 'click' GROUP BY user_id"
    ).collect()
    assert sorted(map(tuple, r)) == sorted(map(tuple, want2))
    # r10: sum/avg/min/max(DISTINCT) are now first-class (verdict ask
    # #5) — see test_distinct_agg_rules
    assert parse("SELECT sum(DISTINCT s) AS x FROM d.f").fields[0].func == (
        "sum_distinct"
    )


def test_dialect_where_arithmetic(spark):
    b = _events_binding(spark)
    cases = [
        ("WHERE click * 2 + 1 > 200.0", "value*2+1 > 200.0"),
        ("WHERE (click + 1.0) * 2 > 100.0", "(value+1.0)*2 > 100.0"),
        ("WHERE click > (100.0 - 2.0) * 2", "value > (100.0-2.0)*2"),
        ("WHERE 1 + 2 * click > 100.0", "1+2*value > 100.0"),  # precedence
        ("WHERE click / 2 < 7.5", "value/2 < 7.5"),
    ]
    for dial, sql in cases:
        got = sorted(
            map(
                tuple,
                sugar.query(
                    spark,
                    f"SELECT click.event_id FROM boost.events {dial}",
                    b,
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT event_id FROM events WHERE event_type='click' "
                    f"AND {sql}"
                ).collect(),
            )
        )
        assert got == want, dial


def test_dialect_arith_with_placeholder(spark):
    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT click.event_id FROM boost.events WHERE click * :m > :lim",
        b,
        params={"m": 2, "lim": 300.0},
    ).count()
    want = spark.sql(
        "SELECT count(*) FROM events WHERE event_type='click' "
        "AND value * 2 > 300.0"
    ).collect()[0][0]
    assert got == want


def test_dialect_computed_select(spark):
    b = _events_binding(spark)
    got = sorted(
        map(
            tuple,
            sugar.query(
                spark,
                "SELECT click.event_id, click * 2 + 1 AS v2, "
                "(click - 1.0) / 4 AS q FROM boost.events "
                "WHERE click < 50.0",
                b,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT event_id, value*2+1 AS v2, (value-1.0)/4 AS q "
                "FROM events WHERE event_type='click' AND value < 50.0"
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    with pytest.raises(ValueError, match="AS"):
        parse("SELECT s * 2 FROM d.f")
    with pytest.raises(ValueError, match="neither grouped nor aggregated"):
        sugar.query(
            spark,
            "SELECT click * 2 AS v, sum(click) FROM boost.events "
            "GROUP BY click.user_id",
            b,
        )


def test_dialect_rollup_cube(spark):
    b = _events_binding(spark)
    for mode in ("ROLLUP", "CUBE"):
        got = sorted(
            map(
                tuple,
                sugar.query(
                    spark,
                    "SELECT click.user_id, count(*) AS n, "
                    "sum(click) AS total FROM boost.events "
                    f"GROUP BY {mode} (click.user_id)",
                    b,
                ).collect(),
            ),
            key=str,
        )
        want = sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT user_id, count(*) AS n, sum(value) AS total "
                    "FROM events WHERE event_type = 'click' "
                    f"GROUP BY {mode} (user_id)"
                ).collect(),
            ),
            key=str,
        )
        assert got == want and len(got) > 2
    q = parse("SELECT s.k, count(*) FROM d.f GROUP BY ROLLUP (s.k)")
    assert q.group_mode == "rollup" and len(q.group_by) == 1


def test_dialect_scalar_functions_match_sql(spark):
    """Whitelisted scalar calls in SELECT and WHERE compile to the same
    Catalyst expressions as hand-written SQL; round() uses the
    engine-independent floor grid."""
    b = _events_binding(spark)
    got = sorted(
        map(
            tuple,
            sugar.query(
                spark,
                "SELECT click.event_id AS eid, abs(click - 50.0) AS d, "
                "round(click, 2) AS r2, floor(click / 25.0) AS bin, "
                "ceil(click / 25.0) AS cbin, sqrt(abs(click)) AS rt, "
                "lower(click.props) AS pl, upper(click.props) AS pu, "
                "length(click.props) AS n, trim(click.props) AS pt, "
                "coalesce(click.props, 'x') AS pc, "
                "substring(click.props, 1, 4) AS p4, "
                "concat(click.props, '!') AS px "
                "FROM boost.events "
                "WHERE abs(click - 50.0) > 5.0 AND length(click.props) > 2",
                b,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT event_id AS eid, abs(value - 50.0) AS d, "
                "floor(value * 100.0D + 0.5D) / 100.0D AS r2, "
                "CAST(floor(value / 25.0) AS DOUBLE) AS bin, "
                "CAST(ceil(value / 25.0) AS DOUBLE) AS cbin, "
                "sqrt(abs(value)) AS rt, lower(props) AS pl, "
                "upper(props) AS pu, length(props) AS n, trim(props) AS pt, "
                "coalesce(props, 'x') AS pc, substring(props, 1, 4) AS p4, "
                "concat(props, '!') AS px "
                "FROM events WHERE event_type = 'click' "
                "AND abs(value - 50.0) > 5.0 AND length(props) > 2"
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_dialect_scalar_fn_in_agg_and_window(spark):
    """Aggregate and window arguments accept full expressions:
    sum(floor(x*s + 0.5)) is the exact-integer-grid frame sum (the
    cross-engine-deterministic form the suite certifies)."""
    from pyspark.sql import functions as F

    b = _events_binding(spark)
    got = sorted(
        map(
            tuple,
            sugar.query(
                spark,
                "SELECT click.user_id AS uid, "
                "sum(floor(click * 100.0 + 0.5)) AS s2, count(*) AS n "
                "FROM boost.events GROUP BY click.user_id "
                "ORDER BY uid",
                b,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT user_id AS uid, "
                "sum(CAST(floor(value * 100.0 + 0.5) AS DOUBLE)) AS s2, "
                "count(*) AS n FROM events WHERE event_type = 'click' "
                "GROUP BY user_id ORDER BY uid"
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    w = sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "sum(floor(click * 1000000.0 + 0.5)) OVER (PARTITION BY "
        "click.user_id ORDER BY click.event_id ROWS BETWEEN 2 PRECEDING "
        "AND CURRENT ROW) AS mv6 FROM boost.events ORDER BY eid LIMIT 50",
        b,
    )
    ww = sorted(map(tuple, w.collect()))
    want_w = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT event_id AS eid, sum(CAST(floor(value * 1000000.0 "
                "+ 0.5) AS DOUBLE)) OVER (PARTITION BY user_id ORDER BY "
                "event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv6 "
                "FROM events WHERE event_type = 'click' "
                "ORDER BY eid LIMIT 50"
            ).collect(),
        )
    )
    assert ww == want_w
    # expression aggregates demand an alias, nested aggs rejected
    with pytest.raises(ValueError, match="AS"):
        parse("SELECT sum(floor(click * 2.0)) FROM boost.events")
    with pytest.raises(ValueError, match="nested aggregate"):
        parse("SELECT sum(floor(count(click))) AS x FROM boost.events")


def test_dialect_group_key_keeps_select_alias(spark):
    b = _events_binding(spark)
    df = sugar.query(
        spark,
        "SELECT click.user_id AS uid, count(*) AS n FROM boost.events "
        "GROUP BY click.user_id ORDER BY uid LIMIT 5",
        b,
    )
    assert df.columns == ["uid", "n"]


def test_dialect_exists_and_not_exists(spark):
    """[NOT] EXISTS with a correlated equality decorrelates to a left
    semi/anti join; counts match Spark's own correlated EXISTS."""
    b = _events_binding(spark)
    got_e = sugar.query(
        spark,
        "SELECT click.event_id AS eid FROM boost.events e WHERE EXISTS "
        "(SELECT purchase.user_id FROM boost.events s "
        "WHERE s.purchase.user_id = e.click.user_id AND purchase > 250.0)",
        b,
    )
    want_e = spark.sql(
        "SELECT count(*) FROM events e WHERE e.event_type = 'click' AND "
        "EXISTS (SELECT 1 FROM events s WHERE s.event_type = 'purchase' "
        "AND s.user_id = e.user_id AND s.value > 250.0)"
    ).collect()[0][0]
    assert got_e.count() == want_e
    plan = got_e._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    got_ne = sugar.query(
        spark,
        "SELECT click.event_id AS eid FROM boost.events e WHERE NOT EXISTS "
        "(SELECT purchase.user_id FROM boost.events s "
        "WHERE s.purchase.user_id = e.click.user_id AND purchase > 250.0)",
        b,
    )
    want_ne = spark.sql(
        "SELECT count(*) FROM events e WHERE e.event_type = 'click' AND "
        "NOT EXISTS (SELECT 1 FROM events s WHERE s.event_type = 'purchase' "
        "AND s.user_id = e.user_id AND s.value > 250.0)"
    ).collect()[0][0]
    assert got_ne.count() == want_ne
    assert "LeftAnti" in got_ne._jdf.queryExecution().executedPlan().toString()
    # restrictions fail loudly
    with pytest.raises(ValueError, match="alias"):
        sugar.query(
            spark,
            "SELECT click.event_id AS eid FROM boost.events WHERE EXISTS "
            "(SELECT purchase.user_id FROM boost.events s "
            "WHERE s.purchase.user_id = e.click.user_id)",
            b,
        )
    with pytest.raises(ValueError, match="correlated"):
        sugar.query(
            spark,
            "SELECT click.event_id AS eid FROM boost.events e WHERE EXISTS "
            "(SELECT purchase.user_id FROM boost.events s "
            "WHERE purchase > 250.0)",
            b,
        )
    # inner alias shadowing the outer alias would silently misread
    # inner-qualified refs as correlated outer refs (ADVICE r5) —
    # reject instead of planning wrong join keys
    with pytest.raises(ValueError, match="shadows"):
        sugar.query(
            spark,
            "SELECT click.event_id AS eid FROM boost.events e WHERE EXISTS "
            "(SELECT purchase.user_id FROM boost.events e "
            "WHERE e.purchase.user_id = e.click.user_id)",
            b,
        )


def test_dialect_case_forms(spark):
    """CASE through the front: searched and simple forms match
    spark.sql, work inside aggregates, and malformed CASE fails
    loudly."""
    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "CASE WHEN click > 100.0 THEN 'big' WHEN click > 10.0 THEN 'mid' "
        "ELSE 'small' END AS bucket, "
        "CASE floor(click / 50.0) WHEN 0.0 THEN 'lo' ELSE 'hi' END AS band "
        "FROM boost.events",
        b,
    )
    want = spark.sql(
        "SELECT event_id AS eid, "
        "CASE WHEN value > 100.0 THEN 'big' WHEN value > 10.0 THEN 'mid' "
        "ELSE 'small' END AS bucket, "
        "CASE floor(value / 50.0) WHEN 0.0 THEN 'lo' ELSE 'hi' END AS band "
        "FROM events WHERE event_type = 'click'"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # conditional aggregation + no-ELSE form (missing branch -> NULL)
    agg = sugar.query(
        spark,
        "SELECT sum(CASE WHEN click > 100.0 THEN 1 END) AS n_big "
        "FROM boost.events",
        b,
    ).collect()[0]
    wagg = spark.sql(
        "SELECT sum(CASE WHEN value > 100.0 THEN 1 END) AS n_big "
        "FROM events WHERE event_type = 'click'"
    ).collect()[0]
    assert agg["n_big"] == wagg["n_big"]
    # malformed: no WHEN, missing END
    for bad in (
        "SELECT CASE ELSE 1 END AS x FROM boost.events",
        "SELECT CASE WHEN click > 1.0 THEN 1 AS x FROM boost.events",
    ):
        with pytest.raises(ValueError):
            sugar.query(spark, bad, b)


def test_dialect_group_by_computed_alias(spark):
    """Computed select items (arithmetic / CASE) serve as GROUP BY keys
    via their alias; non-key computed items still fail loudly; HAVING
    and ORDER BY resolve against the derived key."""
    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT floor(click / 50.0) AS bin, count(*) AS n "
        "FROM boost.events GROUP BY bin ORDER BY bin",
        b,
    )
    want = spark.sql(
        "SELECT floor(value / 50.0) AS bin, count(*) AS n FROM events "
        "WHERE event_type = 'click' GROUP BY bin ORDER BY bin"
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    # mixed computed + plain key, CASE key, HAVING on count alias
    mixed = sugar.query(
        spark,
        "SELECT CASE WHEN click > 100.0 THEN 'big' ELSE 'small' END AS t, "
        "click.user_id, count(*) AS n FROM boost.events "
        "GROUP BY t, click.user_id HAVING n > 0",
        b,
    )
    assert mixed.columns == ["t", "user_id", "n"] and mixed.count() > 0
    with pytest.raises(ValueError, match="neither grouped nor aggregated"):
        sugar.query(
            spark,
            "SELECT floor(click / 50.0) AS bin, click * 2 AS d, "
            "count(*) AS n FROM boost.events GROUP BY bin",
            b,
        )


def test_dialect_group_by_computed_alias_shadowing_column(spark):
    """A computed group key whose alias matches a physical source
    column is AMBIGUOUS (Spark's own precedence would group by the
    column; grouping by the alias expression silently diverges) — the
    front refuses loudly instead of guessing. Renaming the alias
    resolves it."""
    b = _events_binding(spark)
    with pytest.raises(ValueError, match="ambiguous"):
        sugar.query(
            spark,
            "SELECT floor(click / 50.0) AS value, sum(click) AS s "
            "FROM boost.events GROUP BY value",
            b,
        )
    # the renamed form groups by the bucket and still sums raw values
    got = sorted(
        map(
            tuple,
            sugar.query(
                spark,
                "SELECT floor(click / 50.0) AS bkt, sum(click) AS s "
                "FROM boost.events GROUP BY bkt",
                b,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT floor(value / 50.0) AS bkt, sum(value) AS s "
                "FROM events WHERE event_type = 'click' GROUP BY 1"
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_dialect_with_cte(spark):
    """WITH-clause named subqueries: single-source (aggregate of
    aggregate), JOIN source, chained CTEs (later references earlier),
    and the parse/plan error contract."""
    b = _events_binding(spark)
    # aggregate over a CTE's aggregate — the multi-step shape the
    # reference's parser accepts and drops (parser.go:25-45)
    got = sugar.query(
        spark,
        "WITH u AS (SELECT click.user_id, count(*) AS n "
        "FROM boost.events GROUP BY click.user_id) "
        "SELECT sum(u.n) AS total FROM u u",
        b,
    ).collect()
    want = spark.sql(
        "SELECT count(*) AS total FROM events WHERE event_type = 'click'"
    ).collect()
    assert got[0].total == want[0].total
    # CTE as a JOIN source; bare-column refs inside a chained CTE
    got2 = sugar.query(
        spark,
        "WITH u AS (SELECT click.user_id AS uid, count(*) AS n "
        "FROM boost.events GROUP BY click.user_id), "
        "big AS (SELECT uid, n FROM u WHERE n > 1) "
        "SELECT e.click.event_id AS eid, big.n AS n "
        "FROM boost.events e JOIN big ON e.user_id = big.uid",
        b,
    )
    assert got2.columns == ["eid", "n"]
    want2 = spark.sql(
        "WITH u AS (SELECT user_id AS uid, count(*) AS n FROM events "
        "WHERE event_type = 'click' GROUP BY user_id), "
        "big AS (SELECT uid, n FROM u WHERE n > 1) "
        "SELECT e.event_id AS eid, big.n AS n FROM events e "
        "JOIN big ON e.user_id = big.uid WHERE e.event_type = 'click'"
    )
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )
    # error contract
    with pytest.raises(ValueError, match="duplicate WITH name"):
        parse("WITH x AS (SELECT a FROM d.f), x AS (SELECT b FROM d.f) "
              "SELECT x.a FROM x")
    with pytest.raises(ValueError, match="no column"):
        sugar.query(
            spark,
            "WITH u AS (SELECT click.user_id AS uid FROM boost.events) "
            "SELECT e.click, u.missing FROM boost.events e "
            "JOIN u ON e.user_id = u.uid",
            b,
        )
    with pytest.raises(ValueError, match="WITH clause"):
        sugar.query(spark, "SELECT q.a FROM nosuchcte q", b)


def test_dialect_right_and_full_join(spark):
    """RIGHT/FULL [OUTER] JOIN through the front match Spark's own
    outer-join NULL propagation on the same per-source-filtered
    inputs."""
    b = _events_binding(spark)
    for kw, kind in (("RIGHT", "right"), ("FULL OUTER", "full")):
        got = sugar.query(
            spark,
            "SELECT a.click.event_id AS eid, b.error.event_id AS rid "
            f"FROM boost.events a {kw} JOIN boost.events b "
            "ON a.user_id = b.user_id",
            b,
        )
        want = spark.sql(
            "SELECT l.eid, r.rid FROM "
            "(SELECT event_id AS eid, user_id AS lu FROM events "
            " WHERE event_type = 'click') l "
            f"{kw} JOIN "
            "(SELECT event_id AS rid, user_id AS ru FROM events "
            " WHERE event_type = 'error') r ON l.lu = r.ru"
        )
        assert sorted(
            map(tuple, got.collect()), key=lambda t: (t[0] is None, t)
        ) == sorted(
            map(tuple, want.collect()), key=lambda t: (t[0] is None, t)
        )
    # outer semantics actually exercised: a right side whose WHERE
    # leaves most users unmatched must surface NULLs on both sides of
    # the FULL join and on the left side of the RIGHT join
    got = sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.purchase.event_id AS rid "
        "FROM boost.events a FULL OUTER JOIN boost.events b "
        "ON a.event_id = b.event_id",
        b,
    ).collect()
    assert any(v.eid is None for v in got)  # purchase-only event_ids
    assert any(v.rid is None for v in got)  # click-only event_ids


def test_dialect_derived_table(spark):
    """( SELECT ... ) alias in FROM and JOIN — anonymous CTEs riding
    the WITH planning path; alias required; works inside CTE bodies."""
    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT d.uid AS u, d.n AS n FROM (SELECT click.user_id AS uid, "
        "count(*) AS n FROM boost.events GROUP BY click.user_id) d "
        "WHERE d.n > 5 ORDER BY d.n DESC, d.uid LIMIT 3",
        b,
    )
    want = spark.sql(
        "SELECT uid AS u, n FROM (SELECT user_id AS uid, count(*) AS n "
        "FROM events WHERE event_type = 'click' GROUP BY user_id) "
        "WHERE n > 5 ORDER BY n DESC, uid LIMIT 3"
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    # derived table as a JOIN source
    j = sugar.query(
        spark,
        "SELECT e.click.event_id AS eid, d.n AS n FROM boost.events e "
        "JOIN (SELECT click.user_id AS uid, count(*) AS n "
        "FROM boost.events GROUP BY click.user_id) d ON e.user_id = d.uid",
        b,
    )
    wantj = spark.sql(
        "SELECT e.event_id AS eid, d.n FROM events e JOIN "
        "(SELECT user_id AS uid, count(*) AS n FROM events "
        " WHERE event_type = 'click' GROUP BY user_id) d "
        "ON e.user_id = d.uid WHERE e.event_type = 'click'"
    )
    assert sorted(map(tuple, j.collect())) == sorted(
        map(tuple, wantj.collect())
    )
    # alias is mandatory
    with pytest.raises(ValueError, match="alias"):
        parse("SELECT a FROM (SELECT click FROM boost.events)")


def test_dialect_join_multikey(spark):
    """Composite ON keys: AND-chained equi pairs become one join
    condition (self-match on (user_id, event_id) pairs click to
    itself)."""
    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.click AS v "
        "FROM boost.events a JOIN boost.events b "
        "ON a.user_id = b.user_id AND a.event_id = b.event_id",
        b,
    )
    want = spark.sql(
        "SELECT event_id AS eid, value AS v FROM events "
        "WHERE event_type = 'click'"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    q = parse(
        "SELECT a.x FROM d.f a JOIN d.g b ON a.k1 = b.k1 AND a.k2 = b.k2"
    )
    assert len(q.joins[0].on) == 2


def test_group_order_by_ordinals(spark):
    """GROUP BY 1 / ORDER BY 2 positional references resolve at parse
    time to the select items they name — plain refs, computed items
    (via alias), aggregate items (ORDER BY only, via alias)."""
    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT floor(click / 50.0) AS bin, count(*) AS n "
        "FROM boost.events GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 3",
        b,
    )
    want = spark.sql(
        "SELECT floor(value / 50.0) AS bin, count(*) AS n FROM events "
        "WHERE event_type = 'click' GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 3"
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    # plain-ref ordinal
    got2 = sugar.query(
        spark,
        "SELECT click.user_id, count(*) AS n FROM boost.events "
        "GROUP BY 1 ORDER BY 1",
        b,
    )
    want2 = spark.sql(
        "SELECT user_id, count(*) AS n FROM events "
        "WHERE event_type = 'click' GROUP BY 1 ORDER BY 1"
    )
    assert [tuple(r) for r in got2.collect()] == [
        tuple(r) for r in want2.collect()
    ]
    with pytest.raises(ValueError, match="out of range"):
        parse("SELECT a FROM d.f GROUP BY 3")
    with pytest.raises(ValueError, match="aggregate select item"):
        parse("SELECT a.k, count(*) AS n FROM d.f GROUP BY 2")
    with pytest.raises(ValueError, match="AS alias"):
        parse("SELECT a.k, count(*) FROM d.f GROUP BY 1 ORDER BY 2")


def test_dialect_scalar_subquery_in_select(spark):
    """SELECT-list scalar subqueries plan as broadcast single-row
    cross joins; usable standalone and inside arithmetic; grouped
    selects reject them loudly."""
    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "(SELECT max(click) FROM boost.events) AS mx, "
        "click / (SELECT max(click) FROM boost.events) AS frac "
        "FROM boost.events WHERE click > 100.0",
        b,
    )
    want = spark.sql(
        "SELECT event_id AS eid, "
        "(SELECT max(value) FROM events WHERE event_type = 'click') AS mx, "
        "value / (SELECT max(value) FROM events WHERE event_type = 'click')"
        " AS frac FROM events WHERE event_type = 'click' AND value > 100.0"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    with pytest.raises(ValueError):
        sugar.query(
            spark,
            "SELECT click.user_id, count(*) AS n, "
            "(SELECT max(click) FROM boost.events) AS mx "
            "FROM boost.events GROUP BY click.user_id",
            b,
        )


# --------------------------------------------------------------------------
# QUALIFY + ORDER BY ... NULLS FIRST/LAST (round 8)
# --------------------------------------------------------------------------


def test_parse_qualify_and_nulls_order():
    q = parse(
        "SELECT rank() OVER (PARTITION BY s.k ORDER BY s) AS r "
        "FROM d.f QUALIFY r <= 2 ORDER BY r NULLS LAST, s.k DESC NULLS FIRST"
    )
    assert q.qualify is not None
    assert q.order_by[0][1] is False and q.order_by[0][2] == "last"
    assert q.order_by[1][1] is True and q.order_by[1][2] == "first"


def test_qualify_requires_window(spark):
    b = _events_binding(spark)
    with pytest.raises(ValueError, match="QUALIFY requires"):
        sugar.query(
            spark,
            "SELECT click.user_id FROM boost.events QUALIFY click > 1",
            b,
        )


def test_qualify_requires_output_name(spark):
    b = _events_binding(spark)
    with pytest.raises(ValueError, match="output column"):
        sugar.query(
            spark,
            "SELECT rank() OVER (PARTITION BY click.user_id "
            "ORDER BY click) AS r FROM boost.events QUALIFY nosuch > 1",
            b,
        )


def test_nulls_requires_first_or_last():
    with pytest.raises(ValueError, match="NULLS requires"):
        parse("SELECT s FROM d.f ORDER BY s NULLS")


def test_qualify_topk_matches_derived_filter(spark):
    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT click.event_id AS eid, rank() OVER (PARTITION BY "
        "click.user_id ORDER BY click DESC) AS r "
        "FROM boost.events QUALIFY r <= 2",
        b,
    )
    ref = sugar.query(
        spark,
        "SELECT click.event_id AS eid, rank() OVER (PARTITION BY "
        "click.user_id ORDER BY click DESC) AS r FROM boost.events",
        b,
    ).filter("r <= 2")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_nulls_first_orders_null_block_first(spark):
    b = _events_binding(spark)
    rows = sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "lag(click) OVER (PARTITION BY click.user_id "
        "ORDER BY click.event_id) AS prev "
        "FROM boost.events ORDER BY prev NULLS LAST, eid LIMIT 100000",
        b,
    ).collect()
    nulls = [i for i, r in enumerate(rows) if r.prev is None]
    assert nulls and nulls == list(range(len(rows) - len(nulls), len(rows)))


def test_parse_asof_join():
    q = parse(
        "SELECT a.s FROM d.f a ASOF JOIN d.g b ON a.k = b.k"
    )
    assert q.joins[0].kind == "asof" and q.joins[0].on is not None


def test_asof_join_rejects_cte_sources(spark):
    b = _events_binding(spark)
    with pytest.raises(ValueError, match="ASOF JOIN requires"):
        sugar.query(
            spark,
            "WITH x AS (SELECT click.user_id AS uid FROM boost.events) "
            "SELECT a.click AS v, b.uid AS u FROM boost.events a "
            "ASOF JOIN x b ON a.user_id = b.uid",
            b,
        ).collect()


def test_dialect_asof_matches_operator(spark):
    from pyspark.sql import functions as F

    from boostdb_spark.operators.timeseries import asof_join

    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.purchase AS pv "
        "FROM boost.events a ASOF JOIN boost.events b "
        "ON a.user_id = b.user_id",
        b,
    )
    ev = spark.table("events")
    left = ev.filter("event_type = 'click'").select(
        "user_id", "event_id", "ts"
    )
    right = ev.filter("event_type = 'purchase'").select(
        "user_id", "ts", "value"
    )
    ref = asof_join(left, right, on=["user_id"]).select(
        F.col("event_id").alias("eid"), F.col("value").alias("pv")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_parse_using_and_group_all():
    # the empty left source is the plan-time sentinel: USING resolves
    # its left column against the ACCUMULATED left side, not blindly
    # against the FROM anchor (ADVICE r8)
    q = parse("SELECT a.s FROM d.f a JOIN d.g b USING (k, k2)")
    assert q.joins[0].on == [
        (sugar.FieldRef(("", "k")), sugar.FieldRef(("b", "k"))),
        (sugar.FieldRef(("", "k2")), sugar.FieldRef(("b", "k2"))),
    ]
    q2 = parse(
        "SELECT s.k AS k, floor(s / 2.0) AS b, count(*) AS n "
        "FROM d.f s GROUP BY ALL"
    )
    assert [g.parts for g in q2.group_by] == [("s", "k"), ("b",)]


def test_group_all_requires_groupable_item():
    with pytest.raises(ValueError, match="GROUP BY ALL"):
        parse("SELECT count(*) AS n FROM d.f GROUP BY ALL")


def test_filter_clause_rules(spark):
    q = parse(
        "SELECT s.k AS k, sum(s) FILTER (WHERE s > 1.0) AS sh "
        "FROM d.f s GROUP BY s.k"
    )
    assert q.fields[1].filter_expr is not None
    with pytest.raises(ValueError, match="window"):
        parse(
            "SELECT sum(s) FILTER (WHERE s > 1) "
            "OVER (PARTITION BY s.k) AS x FROM d.f s"
        )
    with pytest.raises(ValueError, match="AS"):
        parse("SELECT sum(s) FILTER (WHERE s > 1) FROM d.f s GROUP BY s.k")


def test_filter_agg_not_shadow_having(spark):
    """HAVING sum(click) must resolve to a hidden UNFILTERED aggregate,
    never the FILTERed select twin."""
    b = _events_binding(spark)
    rows = sugar.query(
        spark,
        "SELECT click.user_id AS uid, "
        "sum(floor(click * 100.0 + 0.5)) "
        "FILTER (WHERE click > 50.0) AS s_hi "
        "FROM boost.events GROUP BY click.user_id "
        "HAVING count(*) > 0",
        b,
    ).collect()
    ref = sugar.query(
        spark,
        "SELECT click.user_id AS uid, "
        "sum(floor(click * 100.0 + 0.5)) "
        "FILTER (WHERE click > 50.0) AS s_hi "
        "FROM boost.events GROUP BY click.user_id",
        b,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, ref))


def test_theta_only_on_refused():
    with pytest.raises(ValueError, match="equi pair"):
        parse("SELECT a.s FROM d.f a JOIN d.g b ON a.x > b.y")


def test_asof_on_refuses_theta():
    with pytest.raises(ValueError, match="equi pairs only"):
        parse(
            "SELECT a.s FROM d.f a ASOF JOIN d.g b "
            "ON a.k = b.k AND a.x > b.y"
        )


def test_using_chain_resolves_against_accumulated_left(spark, tmp_path):
    """ADVICE r8: A JOIN B USING (k) JOIN C USING (m) must bind C's key
    to whichever accumulated source actually HAS m — here m (region)
    exists only on B, so anchor-only resolution would fail/silently
    mis-bind. Also pins the loud error when no left source has the
    column."""
    import pyspark.sql.functions as F
    import tests.conftest as cfg
    from boostdb_spark.session import load_tables
    from boostdb_spark.suite import EVENTS_BINDING

    load_tables(spark, cfg.SF_DIR)
    lim = spark.createDataFrame(
        [("quota", 7, 100.0, "eu"), ("quota", 8, 50.0, "us"),
         ("quota", 11, 75.0, "eu")],
        "metric STRING, user_id BIGINT, value DOUBLE, region STRING",
    ).withColumn("mts", F.lit(0).cast("long"))
    lim.createOrReplaceTempView("user_limits2")
    reg = spark.createDataFrame(
        [("caps", "eu", 1.5), ("caps", "us", 2.0)],
        "metric STRING, region STRING, value DOUBLE",
    ).withColumn("mts", F.lit(0).cast("long"))
    reg.createOrReplaceTempView("region_caps")
    bindings = {
        "boost.events": EVENTS_BINDING,
        "boost.limits": sugar.SeriesFamilyBinding(
            view="user_limits2", series_col="metric", value_col="value",
            ts_col="mts",
        ),
        "boost.caps": sugar.SeriesFamilyBinding(
            view="region_caps", series_col="metric", value_col="value",
            ts_col="mts",
        ),
    }
    df = sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, c.caps AS mult "
        "FROM boost.events a JOIN boost.limits b USING (user_id) "
        "JOIN boost.caps c USING (region)",
        bindings,
    )
    got = sorted((r["eid"], r["mult"]) for r in df.collect())
    ev = spark.table("events").filter("event_type = 'click'")
    want = sorted(
        (r["event_id"], r["mult"])
        for r in ev.join(
            lim.filter("metric = 'quota'").select("user_id", "region"),
            "user_id",
        )
        .join(
            reg.filter("metric = 'caps'").select(
                "region", F.col("value").alias("mult")
            ),
            "region",
        )
        .select("event_id", "mult")
        .collect()
    )
    assert got == want and len(got) > 0
    with pytest.raises(ValueError, match="USING column 'nope'"):
        sugar.query(
            spark,
            "SELECT a.click FROM boost.events a "
            "JOIN boost.limits b USING (nope)",
            bindings,
        ).collect()


def test_soft_keywords_usable_as_identifiers(spark):
    """ADVICE r8: the words the r8 grammar reserved (filter, using,
    nulls, first, last) must still parse as bare column names in
    identifier positions — they are contextual keywords, not reserved
    words."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("filter", 0, 10.0), ("filter", 1, 20.0), ("filter", 2, 3.0),
         ("nulls", 0, 7.0)],
        "series STRING, mts LONG, value DOUBLE",
    )
    df.createOrReplaceTempView("softkw_tbl")
    b = sugar.SeriesFamilyBinding(
        view="softkw_tbl", series_col="series", value_col="value",
        ts_col="mts",
    )
    out = sugar.query(
        spark,
        "SELECT filter AS f FROM d.soft WHERE filter > 5.0",
        b,
    ).collect()
    assert sorted(r.f for r in out) == [10.0, 20.0]
    # alias named after a soft keyword
    q = parse("SELECT a.s AS last FROM d.f a")
    assert q.fields[0].alias == "last"
    # clause roles keep working beside the identifier use
    q2 = parse("SELECT a.s FROM d.f a JOIN d.g b USING (k)")
    assert q2.joins[0].on[0][1] == sugar.FieldRef(("b", "k"))


def test_recursive_cte_validation_and_fixpoint(spark):
    """WITH RECURSIVE (r8-verdict ask): linear-recursion validation
    refuses loudly, plain WITH refuses self-reference, the fixpoint
    cap refuses divergent UNION ALL, and the working-table semantics
    match a hand computation."""
    df = spark.createDataFrame(
        [("signup", 0, float(u), u) for u in (5, 9)],
        "series STRING, mts LONG, value DOUBLE, user_id LONG",
    )
    df.createOrReplaceTempView("rec_tbl_t")
    b = {
        "d.f": sugar.SeriesFamilyBinding(
            view="rec_tbl_t", series_col="series", value_col="value",
            ts_col="mts",
        )
    }
    base = "SELECT DISTINCT signup.user_id AS n FROM d.f"
    # happy path: halving chain 5->2->1->0 and 9->4->2->1->0
    out = sugar.query(
        spark,
        f"WITH RECURSIVE c AS ({base} UNION "
        "SELECT floor(r.n / 2.0) AS n FROM c r WHERE r.n >= 1.0) "
        "SELECT count(*) AS total FROM c",
        b,
    ).collect()
    assert out[0].total == 6  # {5,2,1,0} u {9,4,2,1,0} = {0,1,2,4,5,9}
    # self-reference without RECURSIVE keyword
    with pytest.raises(ValueError, match="RECURSIVE"):
        parse(f"WITH c AS ({base} UNION SELECT r.n AS n FROM c r) "
              "SELECT n FROM c")
    # no set-op body
    with pytest.raises(ValueError, match="UNION"):
        parse("WITH RECURSIVE c AS (SELECT r.n AS n FROM c r) "
              "SELECT n FROM c")
    # non-linear: two references in the recursive term
    with pytest.raises(ValueError, match="non-linear"):
        parse(
            f"WITH RECURSIVE c AS ({base} UNION "
            "SELECT x.n AS n FROM c x JOIN c y ON x.n = y.n) "
            "SELECT n FROM c"
        )
    # self-reference in the base term
    with pytest.raises(ValueError, match="base term"):
        parse(
            "WITH RECURSIVE c AS (SELECT r.n AS n FROM c r UNION "
            f"{base}) SELECT n FROM c"
        )
    # divergent UNION ALL recursion hits the iteration cap
    with pytest.raises(ValueError, match="fixpoint"):
        sugar.query(
            spark,
            f"WITH RECURSIVE c AS ({base} UNION ALL "
            "SELECT r.n AS n FROM c r) SELECT count(*) AS total FROM c",
            b,
        )


def test_recursive_cte_evaluates_in_scope_cte_once(spark):
    """An in-scope CTE the recursive term reads is evaluated once, as
    SQL evaluates a CTE, not once per fixpoint step: an accumulator
    bumped by a Python UDF filter on the bound view counts each source
    row once for a closure that takes five steps."""
    import pyspark.sql.functions as F

    seen = spark.sparkContext.accumulator(0)

    def count_row(_):
        seen.add(1)
        return True

    edges = [(i, i + 1) for i in range(4)]  # the chain 0 -> 1 -> 2 -> 3 -> 4
    df = spark.createDataFrame(
        [("edge", i, 0.0, a, b) for i, (a, b) in enumerate(edges)],
        "series STRING, mts LONG, value DOUBLE, src LONG, dst LONG",
    )
    df.filter(F.udf(count_row, "boolean")("src")).createOrReplaceTempView("rec_once_tbl")
    b = SeriesFamilyBinding(view="rec_once_tbl", series_col="series", value_col="value",
                            ts_col="mts")
    out = sugar.query(
        spark,
        "WITH RECURSIVE e AS (SELECT edge.src AS src, edge.dst AS dst FROM d.f), "
        "reach AS (SELECT x.src AS node FROM e x WHERE x.src = 0 UNION "
        "SELECT x.dst AS node FROM e x JOIN reach r ON x.src = r.node) "
        "SELECT count(*) AS n FROM reach",
        b,
    ).collect()
    assert out[0].n == 5
    assert seen.value == len(edges)


def test_grouping_sets_parse_and_interop(spark):
    """GROUPING SETS grammar (r8-verdict ask #4): parse shape, refusal
    of degenerate forms, and grouping()-bitmask interop — the front's
    set expansion must produce exactly the rows the DataFrame
    groupingSets path labels with F.grouping()."""
    import pyspark.sql.functions as F

    q = parse(
        "SELECT a.s, count(*) AS n FROM d.f a "
        "GROUP BY GROUPING SETS ((a.s, a.k), (a.s), ())"
    )
    assert q.group_mode == "grouping_sets"
    assert [len(s) for s in q.grouping_sets] == [2, 1, 0]
    # union of set keys, deduped, first-appearance order
    assert [g.parts for g in q.group_by] == [("a", "s"), ("a", "k")]
    with pytest.raises(ValueError, match="non-empty"):
        parse("SELECT count(*) AS n FROM d.f GROUP BY GROUPING SETS (())")
    with pytest.raises(ValueError, match="parenthesized"):
        parse("SELECT a.s FROM d.f a GROUP BY GROUPING SETS (a.s)")
    # interop: front expansion == DataFrame groupingSets + grouping()
    df = spark.createDataFrame(
        [("click", 0, 10.0, 1), ("click", 1, 20.0, 1),
         ("click", 2, 5.0, 2)],
        "series STRING, mts LONG, value DOUBLE, user_id LONG",
    )
    df.createOrReplaceTempView("gs_interop_tbl")
    b = sugar.SeriesFamilyBinding(
        view="gs_interop_tbl", series_col="series", value_col="value",
        ts_col="mts",
    )
    front = sugar.query(
        spark,
        "SELECT click.user_id AS uid, count(*) AS n FROM d.f "
        "GROUP BY GROUPING SETS ((click.user_id), ())",
        b,
    ).collect()
    ref = (
        df.filter("series = 'click'")
        .groupingSets([["user_id"], []], "user_id")
        .agg(F.grouping("user_id").alias("g"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    key = lambda t: (t[0] is None, t[0] or 0, t[1])
    got = sorted(((r.uid, r.n) for r in front), key=key)
    want = sorted(
        (((None if r.g == 1 else r.user_id), r.n) for r in ref), key=key
    )
    assert got == want == [(1, 2), (2, 1), (None, 3)]


def test_range_interval_frame_parse_and_refusals():
    """RANGE BETWEEN INTERVAL frames (r8-verdict ask #5): ns bounds on
    the AST, unit spellings, and loud refusals of bare-numeric RANGE
    offsets, unknown units, and multi-column/descending ORDER BY."""
    q = parse(
        "SELECT sum(a.s) OVER (PARTITION BY a.k ORDER BY a.ts "
        "RANGE BETWEEN INTERVAL '2' HOUR PRECEDING AND CURRENT ROW) "
        "AS tr FROM d.f a"
    )
    w = q.fields[0].window
    assert w.frame_type == "range_ns"
    assert w.frame == (-7_200_000_000_000, 0)
    q2 = parse(
        "SELECT sum(a.s) OVER (ORDER BY a.ts RANGE BETWEEN "
        "INTERVAL '90' seconds PRECEDING AND INTERVAL '5' minutes "
        "FOLLOWING) AS tr FROM d.f a"
    )
    assert q2.fields[0].window.frame == (-90_000_000_000, 300_000_000_000)
    with pytest.raises(ValueError, match="INTERVAL"):
        parse("SELECT sum(a.s) OVER (ORDER BY a.ts RANGE BETWEEN "
              "100 PRECEDING AND CURRENT ROW) AS t FROM d.f a")
    with pytest.raises(ValueError, match="unit"):
        parse("SELECT sum(a.s) OVER (ORDER BY a.ts RANGE BETWEEN "
              "INTERVAL '1' fortnight PRECEDING AND CURRENT ROW) AS t "
              "FROM d.f a")


def test_range_interval_frame_plan_semantics(spark):
    """The planned rangeBetween must be a TIME frame: rows within the
    ns window aggregate regardless of row adjacency, rows outside
    don't."""
    df = spark.createDataFrame(
        [("m", 0, 1.0), ("m", 30 * 10**9, 2.0), ("m", 3700 * 10**9, 4.0)],
        "series STRING, mts LONG, value DOUBLE",
    )
    df.createOrReplaceTempView("range_tbl")
    b = sugar.SeriesFamilyBinding(
        view="range_tbl", series_col="series", value_col="value",
        ts_col="mts",
    )
    out = sugar.query(
        spark,
        # unaliased source: m.mts = series m, attr mts (the ts column);
        # an alias "m" would shadow the series and turn m.mts into
        # value sugar for a series named mts
        "SELECT m.mts AS t, sum(m) OVER (ORDER BY m.mts RANGE BETWEEN "
        "INTERVAL '1' MINUTE PRECEDING AND CURRENT ROW) AS s "
        "FROM d.f",
        b,
    ).collect()
    got = {r.t: r.s for r in out}
    # t=30s: 1.0+2.0 in the trailing minute; t=3700s: alone
    assert got[0] == 1.0
    assert got[30 * 10**9] == 3.0
    assert got[3700 * 10**9] == 4.0
    with pytest.raises(ValueError, match="ascending ORDER BY"):
        sugar.query(
            spark,
            "SELECT sum(m) OVER (ORDER BY m.mts DESC RANGE BETWEEN "
            "INTERVAL '1' MINUTE PRECEDING AND CURRENT ROW) AS s "
            "FROM d.f",
            b,
        )


def test_lateral_parse_refusals_and_contextual_name(spark):
    """JOIN LATERAL grammar: whitelist refusal, alias requirement,
    outer-join refusal, and 'lateral' staying usable as an ordinary
    identifier elsewhere."""
    with pytest.raises(ValueError, match="unknown table function"):
        parse("SELECT t.x FROM d.f a JOIN LATERAL explode(a.text) t")
    with pytest.raises(ValueError, match="row alias"):
        parse("SELECT a.s FROM d.f a JOIN LATERAL tokenize(a.text)")
    with pytest.raises(ValueError, match="LATERAL is supported"):
        parse(
            "SELECT a.s FROM d.f a LEFT JOIN LATERAL tokenize(a.text) t"
        )
    # 'lateral' is contextual: a source alias named lateral still parses
    q = parse("SELECT lateral.s FROM d.f lateral")
    assert q.source_alias == "lateral"
    # output columns validated against the function's schema
    q2 = parse(
        "SELECT t.token AS tok FROM d.f a JOIN LATERAL tokenize(a.text) t"
    )
    assert q2.joins[0].kind == "lateral"
    assert q2.joins[0].family == "tokenize"
    assert q2.joins[0].lateral_arg is not None


def test_named_window_clause_rules():
    """WINDOW w AS (spec): forward reference resolves, unknown and
    undeclared names refuse, duplicates refuse, and 'window' stays an
    ordinary identifier elsewhere."""
    q = parse(
        "SELECT sum(a.s) OVER w AS x, count(a.s) OVER w AS n FROM d.f a "
        "WINDOW w AS (PARTITION BY a.k ORDER BY a.ts "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)"
    )
    assert q.fields[0].window is q.fields[1].window
    assert q.fields[0].window.frame == (-1, 0)
    with pytest.raises(ValueError, match="names no WINDOW"):
        parse("SELECT sum(a.s) OVER w AS x FROM d.f a "
              "WINDOW v AS (ORDER BY a.ts)")
    with pytest.raises(ValueError, match="names no WINDOW"):
        parse("SELECT sum(a.s) OVER w AS x FROM d.f a")
    with pytest.raises(ValueError, match="duplicate WINDOW"):
        parse("SELECT sum(a.s) OVER w AS x FROM d.f a "
              "WINDOW w AS (ORDER BY a.ts), w AS (ORDER BY a.k)")
    q2 = parse("SELECT a.window FROM d.f a")
    assert q2.fields[0].parts == ("a", "window")


def test_ignore_nulls_rules(spark):
    """IGNORE/RESPECT NULLS: first_value/last_value take the modifier,
    lag/lead refuse loudly (Spark does not expose the flag there), and
    the compiled LOCF projection carries the last non-null forward."""
    import pyspark.sql.functions as F

    q = parse(
        "SELECT last_value(v) IGNORE NULLS OVER (PARTITION BY k "
        "ORDER BY t) AS filled FROM d.f"
    )
    assert q.fields[0].func == "last_value" and q.fields[0].ignore_nulls
    q2 = parse(
        "SELECT first_value(v) RESPECT NULLS OVER (ORDER BY t) AS x "
        "FROM d.f"
    )
    assert q2.fields[0].func == "first_value" and not q2.fields[0].ignore_nulls
    with pytest.raises(ValueError, match="first_value/last_value"):
        parse("SELECT lag(v) IGNORE NULLS OVER (ORDER BY t) AS x FROM d.f")
    with pytest.raises(ValueError, match="OVER"):
        parse("SELECT last_value(v) IGNORE NULLS AS x FROM d.f")
    # LOCF semantics end-to-end (series 'a' has NULL readings at
    # t=2,3 that must carry the t=1 observation forward)
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, 40.0),
         ("b", 1, None), ("b", 2, 5.0)],
        "series STRING, mts LONG, value DOUBLE",
    )
    df.createOrReplaceTempView("locf_tbl")
    b = sugar.SeriesFamilyBinding(
        view="locf_tbl", series_col="series", value_col="value",
        ts_col="mts",
    )
    out = sugar.query(
        spark,
        "SELECT t, last_value(v) IGNORE NULLS "
        "OVER (ORDER BY t) AS filled "
        "FROM (SELECT x.a.mts AS t, x.a AS v FROM d.f x) d2",
        b,
    ).collect()
    got = {r.t: r.filled for r in out}
    assert got == {1: 10.0, 2: 10.0, 3: 10.0, 4: 40.0}
    # RESPECT NULLS (the default) keeps the NULL readings
    out2 = sugar.query(
        spark,
        "SELECT t, last_value(v) RESPECT NULLS "
        "OVER (ORDER BY t) AS raw "
        "FROM (SELECT x.a.mts AS t, x.a AS v FROM d.f x) d2",
        b,
    ).collect()
    got2 = {r.t: r.raw for r in out2}
    assert got2[2] is None and got2[4] == 40.0


def test_distinct_on_rules(spark):
    """DISTINCT ON: ORDER BY must lead with the ON columns and add a
    tiebreak; the survivor is the first row per group by the residual
    order; plain DISTINCT keeps working."""
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 5, 1.0), ("b", 3, 9.0)],
        "series STRING, mts LONG, value DOUBLE",
    )
    df.createOrReplaceTempView("don_tbl")
    b = sugar.SeriesFamilyBinding(
        view="don_tbl", series_col="series", value_col="value",
        ts_col="mts",
    )
    out = sugar.query(
        spark,
        "SELECT DISTINCT ON (series) series, mts, value FROM "
        "(SELECT * FROM d.f) x "
        "ORDER BY series ASC, mts DESC",
        b,
    ).collect()
    got = {r.series: (r.mts, r.value) for r in out}
    assert got == {"a": (2, 20.0), "b": (5, 1.0)}
    with pytest.raises(ValueError, match="tiebreak"):
        sugar.query(
            spark,
            "SELECT DISTINCT ON (series) series, mts FROM "
            "(SELECT * FROM d.f) x ORDER BY series",
            b,
        )
    with pytest.raises(ValueError, match="lead with the DISTINCT ON"):
        sugar.query(
            spark,
            "SELECT DISTINCT ON (series) series, mts FROM "
            "(SELECT * FROM d.f) x ORDER BY mts, series",
            b,
        )


def test_select_exclude_rules(spark):
    """SELECT * EXCLUDE drops named columns from the star expansion
    and refuses unknown names."""
    df = spark.createDataFrame(
        [("a", 1, 10.0, "x")],
        "series STRING, mts LONG, value DOUBLE, payload STRING",
    )
    df.createOrReplaceTempView("excl_tbl")
    b = sugar.SeriesFamilyBinding(
        view="excl_tbl", series_col="series", value_col="value",
        ts_col="mts",
    )
    out = sugar.query(
        spark, "SELECT * EXCLUDE (payload, mts) FROM d.f", b
    )
    assert out.columns == ["series", "value"]
    with pytest.raises(ValueError, match="unknown columns"):
        sugar.query(spark, "SELECT * EXCLUDE (nope) FROM d.f", b).collect()
    # EXCLUDE still narrows the scan: excluded cols never read
    with pytest.raises(ValueError, match="EXCLUDE requires"):
        parse("SELECT * EXCLUDE payload FROM d.f")


def test_values_table_rules(spark):
    """(VALUES ...) t(a, b): literal typing (int->bigint, any
    float->double, bool, string, NULL cells), arity validation,
    all-NULL refusal, and the LocalRelation join path."""
    q = parse(
        "SELECT t.a AS a FROM (VALUES (1, 'x'), (2, null)) t(a, b)"
    )
    assert isinstance(q.ctes[0][1], sugar.ValuesTable)
    assert q.ctes[0][1].rows == [[1, "x"], [2, None]]
    with pytest.raises(ValueError, match="column list"):
        parse("SELECT t.a AS a FROM (VALUES (1), (2)) t")
    with pytest.raises(ValueError, match="cells"):
        parse("SELECT t.a AS a FROM (VALUES (1, 2), (3,)) t(a, b)")
    with pytest.raises(ValueError, match="literals"):
        parse("SELECT t.a AS a FROM (VALUES (x)) t(a)")
    vt = sugar.ValuesTable(["a"], [[None], [None]])
    with pytest.raises(ValueError, match="entirely NULL"):
        sugar._plan_values(spark, vt)
    mixed = sugar._plan_values(
        spark, sugar.ValuesTable(["a", "b"], [[1, "x"], [2.5, None]])
    )
    assert dict(mixed.dtypes) == {"a": "double", "b": "string"}
    assert mixed.count() == 2
    # plan shape: literal table is a LocalRelation/LocalTableScan —
    # no file scan, eligible for broadcast
    plan_str = mixed._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan_str or "LocalRelation" in plan_str


def test_order_by_all(spark):
    """ORDER BY ALL (DuckDB idiom): expands to every select item
    left-to-right ascending at parse time; refuses SELECT * and
    unaliased computed items."""
    q = parse("SELECT a.s, a.t AS t2 FROM d.f a ORDER BY ALL LIMIT 5")
    assert [r.parts for r, d, n in q.order_by] == [("a", "s"), ("t2",)]
    assert all(not d for _, d, _ in q.order_by) and q.limit == 5
    with pytest.raises(ValueError, match="explicit select list"):
        parse("SELECT * FROM d.f ORDER BY ALL")
    with pytest.raises(ValueError, match="AS alias"):
        parse("SELECT count(v) FROM d.f ORDER BY ALL")
    df = spark.createDataFrame(
        [("b", 2, 1.0), ("a", 9, 2.0), ("a", 1, 3.0)],
        "series STRING, mts LONG, value DOUBLE",
    )
    df.createOrReplaceTempView("oba_tbl")
    b = sugar.SeriesFamilyBinding(
        view="oba_tbl", series_col="series", value_col="value",
        ts_col="mts",
    )
    out = sugar.query(
        spark,
        "SELECT series, mts FROM (SELECT * FROM d.f) x ORDER BY ALL",
        b,
    ).collect()
    assert [(r.series, r.mts) for r in out] == [("a", 1), ("a", 9), ("b", 2)]
    # ORDER BY ALL routes through the SHARED limit tail (r11 advisor):
    # WITH TIES, OFFSET, and the ANSI FETCH FIRST spelling all compose
    q2 = parse("SELECT a.s, a.t AS t2 FROM d.f a ORDER BY ALL "
               "LIMIT 5 WITH TIES")
    assert q2.limit == 5 and q2.limit_ties is True
    q3 = parse("SELECT a.s, a.t AS t2 FROM d.f a ORDER BY ALL "
               "FETCH FIRST 3 ROWS ONLY")
    assert q3.limit == 3 and q3.limit_ties is False
    q4 = parse("SELECT a.s, a.t AS t2 FROM d.f a ORDER BY ALL "
               "LIMIT 5 OFFSET 2")
    assert q4.limit == 5 and q4.offset == 2
    # behavior: ties on the full ALL key extend the page
    out2 = sugar.query(
        spark,
        "SELECT series FROM (SELECT * FROM d.f) x ORDER BY ALL "
        "LIMIT 1 WITH TIES",
        b,
    ).collect()
    assert [r.series for r in out2] == ["a", "a"]


def test_values_as_anchor_source(spark):
    """(VALUES ...) works as the FROM anchor, not only a join side."""
    b = sugar.SeriesFamilyBinding(view="oba_tbl")
    out = sugar.query(
        spark,
        "SELECT t.a AS a, t.b AS b FROM (VALUES (2, 'y'), (1, 'x')) "
        "t(a, b) ORDER BY a",
        b,
    ).collect()
    assert [(r.a, r.b) for r in out] == [(1, "x"), (2, "y")]


def test_cast_rules(spark):
    """CAST(expr AS type) — parse, whitelist, and cross-engine-safe
    compile (round-10: the dialect piece of the recursive-CTE dtype
    fix)."""
    q = parse("SELECT CAST(a / 2.0 AS BIGINT) AS h FROM d.f")
    assert q.fields[0].expr is not None
    with pytest.raises(ValueError, match="AS"):
        parse("SELECT CAST(a, BIGINT) AS h FROM d.f")
    with pytest.raises(ValueError, match="unsupported CAST target"):
        parse("SELECT CAST(a AS BLOB) AS h FROM d.f")
    b = _events_binding(spark)
    rows = sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "CAST(floor(click.user_id / 2.0) AS BIGINT) AS half, "
        "CAST(click.user_id AS VARCHAR) AS s "
        "FROM boost.events",
        b,
    ).limit(5).collect()
    for r in rows:
        assert isinstance(r.half, int)
        assert isinstance(r.s, str)
    # WHERE-side CAST composes with comparisons
    n = sugar.query(
        spark,
        "SELECT count(*) AS n FROM boost.events "
        "WHERE CAST(click.user_id AS BIGINT) >= 0",
        b,
    ).collect()[0].n
    assert n > 0


def test_distinct_agg_rules(spark):
    """sum/avg/min/max(DISTINCT ...) — parse + compile (r9 verdict ask
    #5; the reference's TiDB parser accepts these,
    query/parser/parser.go:25-45)."""
    q = parse("SELECT s.k AS k, sum(DISTINCT s) AS sd FROM d.f s GROUP BY s.k")
    assert q.fields[1].func == "sum_distinct"
    q = parse("SELECT avg(DISTINCT a) AS ad FROM d.f")
    assert q.fields[0].func == "avg_distinct"
    with pytest.raises(ValueError, match="plain"):
        parse("SELECT avg(DISTINCT a + 1.0) AS x FROM d.f")
    with pytest.raises(ValueError, match="plain"):
        parse("SELECT count(DISTINCT a + 1.0) AS x FROM d.f")
    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT sum(DISTINCT click.user_id) AS sd, "
        "avg(DISTINCT click.user_id) AS ad, "
        "min(DISTINCT click) AS mn, max(DISTINCT click) AS mx "
        "FROM boost.events",
        b,
    ).collect()[0]
    import pyspark.sql.functions as F

    ev = spark.read.parquet(
        f"{__import__('tests.conftest', fromlist=['SF_DIR']).SF_DIR}"
        "/events.parquet"
    ).filter(F.col("event_type") == "click")
    ref = ev.select(
        F.sum_distinct("user_id").alias("sd"),
        F.expr("avg(DISTINCT user_id)").alias("ad"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    ).collect()[0]
    assert (got.sd, got.ad, got.mn, got.mx) == (ref.sd, ref.ad, ref.mn, ref.mx)


def test_pivot_unpivot_rules(spark):
    """PIVOT/UNPIVOT table operators (r9 verdict ask #6)."""
    q = parse(
        "SELECT t.k AS k FROM src PIVOT (count(*) FOR et IN ('a', 'b')) t"
    )
    assert q.pivot is not None and q.pivot.func == "count"
    assert q.pivot.agg_col is None and q.pivot.values == ["a", "b"]
    assert q.source_alias == "t"
    q = parse("SELECT k FROM src PIVOT (sum(x) FOR et IN (1, 2))")
    assert q.pivot.agg_col == "x" and q.pivot.values == [1, 2]
    q = parse("SELECT k FROM w UNPIVOT (val FOR metric IN (a, b)) u")
    assert q.unpivot is not None and q.unpivot.cols == ["a", "b"]
    with pytest.raises(ValueError, match="aggregate"):
        parse("SELECT k FROM src PIVOT (floor(x) FOR et IN (1))")
    with pytest.raises(ValueError, match="FOR"):
        parse("SELECT k FROM src PIVOT (count(*) BY et IN (1))")
    with pytest.raises(ValueError, match="literal"):
        parse("SELECT k FROM src PIVOT (count(*) FOR et IN (a, b))")
    with pytest.raises(ValueError, match="joined"):
        parse(
            "SELECT k FROM src PIVOT (count(*) FOR et IN (1)) "
            "JOIN d.f x ON x.a = src.b"
        )
    # plan-level: family sources must wrap in a derived table
    from boostdb_spark.suite import EVENTS_BINDING

    b = _events_binding(spark)
    with pytest.raises(ValueError, match="plain-column"):
        sugar.query(
            spark,
            "SELECT k FROM boost.events "
            "PIVOT (count(*) FOR event_type IN ('click'))",
            b,
        )
    import pyspark.sql.functions as F

    # round trip: pivot a two-column derived table, melt it back
    wide = sugar.query(
        spark,
        "SELECT t.user_id AS uid, t.click AS click, t.view AS view "
        "FROM (SELECT * EXCLUDE (event_id, ts, value, props) "
        "FROM boost.events) t "
        "PIVOT (count(*) FOR event_type IN ('click', 'view'))",
        b,
    )
    assert set(wide.columns) == {"uid", "click", "view"}
    row = wide.filter(F.col("click") > 0).limit(1).collect()
    assert row and isinstance(row[0].click, int)


def test_tablesample_rules(spark):
    """TABLESAMPLE (p PERCENT ON key) — deterministic hash sampling
    (r9 verdict ask #7)."""
    q = parse("SELECT a FROM d.f TABLESAMPLE (10 PERCENT ON event_id)")
    assert q.sample is not None and q.sample.pct == 10.0
    assert q.sample.key_col == "event_id"
    with pytest.raises(ValueError, match="PERCENT"):
        parse("SELECT a FROM d.f TABLESAMPLE (10 ROWS ON k)")
    with pytest.raises(ValueError, match="ON"):
        parse("SELECT a FROM d.f TABLESAMPLE (10 PERCENT)")
    with pytest.raises(ValueError, match="out of range"):
        parse("SELECT a FROM d.f TABLESAMPLE (200 PERCENT ON k)")
    b = _events_binding(spark)
    s10 = sugar.query(
        spark,
        "SELECT click.event_id AS eid FROM boost.events "
        "TABLESAMPLE (10 PERCENT ON event_id)",
        b,
    )
    s20 = sugar.query(
        spark,
        "SELECT click.event_id AS eid FROM boost.events "
        "TABLESAMPLE (20 PERCENT ON event_id)",
        b,
    )
    ids10 = {r.eid for r in s10.collect()}
    ids20 = {r.eid for r in s20.collect()}
    assert ids10 and ids10 < ids20  # monotone: 10% subset of 20%
    # reproducible under repartitioning (the whole point)
    again = {r.eid for r in s10.repartition(7).collect()}
    assert again == ids10


def test_tablesample_threshold_exact(spark):
    """r10 advice: int(pct/100*10000) truncated under float rounding
    (57 PERCENT gave 5699 buckets). The threshold must be exactly
    round(pct*100) in the 10k-bucket space for integer AND fractional
    percents."""
    from pyspark.sql import functions as F

    from boostdb_spark.operators.sampling import _bucket

    b = _events_binding(spark)
    for pct, want in [(57, 5700), (69, 6900), (0.7, 70), (8.2, 820)]:
        got = sugar.query(
            spark,
            f"SELECT click.event_id AS eid FROM boost.events "
            f"TABLESAMPLE ({pct} PERCENT ON event_id)",
            b,
        )
        ids = {r.eid for r in got.collect()}
        manual = {
            r.eid
            for r in spark.table(b.view)
            .filter(F.col(b.series_col) == "click")  # the `click.` sugar
            .select(F.col("event_id").alias("eid"))
            .filter(_bucket(F.col("eid"), 10_000) < want)
            .collect()
        }
        assert ids == manual, f"{pct} PERCENT != {want} buckets"


def test_tablesample_with_joins_raises(spark):
    """r10 advice: a programmatically built query with sample+joins must
    raise, never silently return the unsampled result (the parser
    already rejects the combination syntactically)."""
    qs = parse(
        "SELECT click.event_id FROM boost.events "
        "TABLESAMPLE (10 PERCENT ON event_id)"
    )
    qj = parse(
        "SELECT a.event_id AS eid FROM boost.events a "
        "JOIN boost.events b ON a.event_id = b.event_id"
    )
    qj.sample = qs.sample  # simulate the programmatic construction
    b = _events_binding(spark)
    with pytest.raises(ValueError, match="joins"):
        sugar.plan(spark, qj, {"boost.events": b}, None, None, {})


def test_extract_rules():
    """EXTRACT(unit FROM expr) — ANSI sugar for the date-part fns."""
    q = parse("SELECT extract(year FROM a.ts) AS y FROM d.f a")
    assert q.fields[0].expr is not None and q.fields[0].expr.op == "year"
    with pytest.raises(ValueError, match="unit"):
        parse("SELECT extract(week FROM a.ts) AS w FROM d.f a")
    with pytest.raises(ValueError, match="FROM"):
        parse("SELECT extract(year, a.ts) AS y FROM d.f a")


def test_rank_extras_and_ilike_rules(spark):
    """ntile/percent_rank/cume_dist + ILIKE (round 10)."""
    q = parse(
        "SELECT ntile(4) OVER (PARTITION BY a.k ORDER BY a.t) AS q4 "
        "FROM d.f a"
    )
    assert q.fields[0].func == "ntile" and q.fields[0].arg_expr.value == 4
    with pytest.raises(ValueError, match="integer"):
        parse("SELECT ntile(0.5) OVER (ORDER BY a.t) AS x FROM d.f a")
    with pytest.raises(ValueError, match="positive"):
        parse("SELECT ntile(0) OVER (ORDER BY a.t) AS x FROM d.f a")
    with pytest.raises(ValueError, match="frame"):
        # frame refusal is plan-time (the window spec compiles there)
        sugar.query(
            spark,
            "SELECT ntile(4) OVER (PARTITION BY click.user_id "
            "ORDER BY click.event_id ROWS BETWEEN 1 PRECEDING AND "
            "CURRENT ROW) AS x FROM boost.events",
            _events_binding(spark),
        )
    q = parse("SELECT a FROM d.f WHERE a.tag ILIKE '%X%'")
    assert q.where.kind == "ilike"
    q = parse("SELECT a FROM d.f WHERE NOT a.tag ILIKE '%X%'")
    assert q.where.kind == "not"


def test_order_by_expression_rules(spark):
    """ORDER BY <expression> over output columns (round 10)."""
    q = parse("SELECT a AS x FROM d.f ORDER BY floor(x * 2.0) DESC, x")
    assert q.order_by[0][0].expr is not None and q.order_by[0][1] is True
    assert q.order_by[1][0].parts == ("x",)
    b = _events_binding(spark)
    rows = sugar.query(
        spark,
        "SELECT click.event_id AS eid, click AS v FROM boost.events "
        "ORDER BY floor(v * -1.0), eid LIMIT 5",
        b,
    ).collect()
    assert list(rows[0].asDict()) == ["eid", "v"]  # hidden col dropped
    vs = [r.v for r in rows]
    import math

    assert all(
        math.floor(vs[i] * -1.0) <= math.floor(vs[i + 1] * -1.0)
        for i in range(len(vs) - 1)
    )
    with pytest.raises(ValueError, match="output columns only"):
        sugar.query(
            spark,
            "SELECT click.event_id AS eid FROM boost.events "
            "ORDER BY floor(click.user_id * 1.0)",
            b,
        )


def test_having_distinct_aggregate(spark):
    """HAVING accepts DISTINCT aggregates (round 10): the hidden
    aggregate rides the same *_distinct compile path as select items
    and never shadows a non-distinct twin."""
    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT click.user_id AS uid, count(*) AS n FROM boost.events "
        "GROUP BY click.user_id "
        "HAVING count(DISTINCT click.event_id) > 3",
        b,
    ).collect()
    ref = spark.sql(
        "SELECT user_id AS uid, count(*) AS n FROM events "
        "WHERE event_type = 'click' GROUP BY user_id "
        "HAVING count(DISTINCT event_id) > 3"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref)) and got


def test_string_agg_rules(spark):
    """string_agg/listagg WITHIN GROUP (ORDER BY ...) — r10 verdict
    ask #5 (the parser-accepted surface at query/parser/parser.go:25-45)."""
    q = parse(
        "SELECT k.a AS g, string_agg(k.b, '|') WITHIN GROUP "
        "(ORDER BY k.c DESC) AS s FROM d.f k GROUP BY k.a"
    )
    f = q.fields[1]
    assert f.func == "string_agg" and f.sep == "|"
    assert f.within_group and f.within_group[0][1] is True
    # listagg is an alias; default separator is ','
    q2 = parse(
        "SELECT listagg(k.b) WITHIN GROUP (ORDER BY k.c) AS s "
        "FROM d.f k GROUP BY k.a"
    )
    assert q2.fields[0].func == "string_agg" and q2.fields[0].sep == ","
    with pytest.raises(ValueError, match="WITHIN GROUP"):
        parse("SELECT string_agg(k.b, ',') AS s FROM d.f k GROUP BY k.a")
    with pytest.raises(ValueError, match="string literal"):
        parse(
            "SELECT string_agg(k.b, 7) WITHIN GROUP (ORDER BY k.c) AS s "
            "FROM d.f k"
        )
    with pytest.raises(ValueError, match="AS"):
        parse(
            "SELECT string_agg(k.b) WITHIN GROUP (ORDER BY k.c) "
            "FROM d.f k GROUP BY k.a"
        )
    with pytest.raises(ValueError, match="window"):
        parse(
            "SELECT string_agg(k.b) WITHIN GROUP (ORDER BY k.c) "
            "OVER (PARTITION BY k.a) AS s FROM d.f k"
        )
    # mixed ASC/DESC directions refuse at plan time
    from pyspark.sql import functions as F

    b = _events_binding(spark)
    with pytest.raises(ValueError, match="direction"):
        sugar.query(
            spark,
            "SELECT click.user_id AS uid, string_agg(click.props) "
            "WITHIN GROUP (ORDER BY click.event_id ASC, click.ts DESC) "
            "AS s FROM boost.events GROUP BY click.user_id",
            b,
        ).collect()
    # behavior: ordered concat matches a manual sort
    got = sugar.query(
        spark,
        "SELECT click.user_id AS uid, string_agg(click.event_id, '-') "
        "WITHIN GROUP (ORDER BY click.event_id) AS ids "
        "FROM boost.events GROUP BY click.user_id",
        b,
    )
    rows = {r.uid: r.ids for r in got.collect()}
    manual = (
        spark.table(b.view)
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("event_id")).alias("ids"))
        .collect()
    )
    for r in manual:
        assert rows[r.user_id] == "-".join(str(i) for i in r.ids)


def test_percentile_within_group_rules(spark):
    """percentile_cont/percentile_disc WITHIN GROUP — r11 verdict
    ask #4 (the parser-accepted ordered-set surface at
    query/parser/parser.go:25-45), lowered to Spark's native
    inverse-distribution aggregates."""
    q = parse(
        "SELECT k.a AS g, percentile_cont(0.25) WITHIN GROUP "
        "(ORDER BY k.c DESC) AS p FROM d.f k GROUP BY k.a"
    )
    f = q.fields[1]
    assert f.func == "percentile_cont"
    assert f.arg_expr.value == 0.25
    assert f.within_group and f.within_group[0][1] is True
    q2 = parse(
        "SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY k.c) AS m "
        "FROM d.f k GROUP BY k.a"
    )
    assert q2.fields[0].func == "percentile_disc"
    # fraction must be a literal in [0, 1]
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        parse(
            "SELECT percentile_cont(1.5) WITHIN GROUP (ORDER BY k.c) "
            "AS p FROM d.f k GROUP BY k.a"
        )
    # WITHIN GROUP is required
    with pytest.raises(ValueError, match="WITHIN GROUP"):
        parse(
            "SELECT percentile_cont(0.5) AS p FROM d.f k GROUP BY k.a"
        )
    # exactly one sort key (ANSI inverse distribution)
    with pytest.raises(ValueError, match="one WITHIN GROUP sort key"):
        parse(
            "SELECT percentile_disc(0.5) WITHIN GROUP "
            "(ORDER BY k.c, k.d) AS p FROM d.f k GROUP BY k.a"
        )
    # grouped aggregate, not a window function
    with pytest.raises(ValueError, match="window"):
        parse(
            "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY k.c) "
            "OVER (PARTITION BY k.a) AS p FROM d.f k"
        )
    # AS alias required (no canonical sugar name)
    with pytest.raises(ValueError, match="AS"):
        parse(
            "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY k.c) "
            "FROM d.f k GROUP BY k.a"
        )
    # behavior vs Spark's own percentile on the same data: median of
    # event_id per user through the dialect == F.percentile(id, 0.5)
    from pyspark.sql import functions as F

    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT click.user_id AS uid, percentile_cont(0.5) WITHIN "
        "GROUP (ORDER BY click.event_id) AS med, percentile_disc(0.5) "
        "WITHIN GROUP (ORDER BY click.event_id) AS medd "
        "FROM boost.events GROUP BY click.user_id",
        b,
    )
    rows = {r.uid: (r.med, r.medd) for r in got.collect()}
    manual = (
        spark.table(b.view)
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.percentile("event_id", F.lit(0.5)).alias("med"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY event_id)"
            ).alias("medd"),
        )
        .collect()
    )
    for r in manual:
        assert rows[r.user_id] == (r.med, r.medd)


def test_bool_agg_and_modulo_rules(spark):
    """bool_and/every/bool_or over predicate arguments + the %
    (modulo) arithmetic operator (round 12)."""
    q = parse(
        "SELECT k.a AS g, bool_and(k.x > 3) AS all_big, "
        "every(k.x >= 0) AS nonneg, bool_or(k.x % 2 = 0) AS any_even "
        "FROM d.f k GROUP BY k.a"
    )
    assert q.fields[1].func == "bool_and"
    assert q.fields[2].func == "bool_and"  # every is an alias
    assert q.fields[3].func == "bool_or"
    # grouped aggregate, not a window function
    with pytest.raises(ValueError, match="window"):
        parse(
            "SELECT bool_and(k.x > 0) OVER (PARTITION BY k.a) AS b "
            "FROM d.f k"
        )
    # behavior incl. modulo + FILTER
    from pyspark.sql import functions as F

    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT click.user_id AS uid, "
        "bool_and(click >= 0.0) AS nonneg, "
        "bool_or(click.event_id % 2 = 0) AS any_even, "
        "bool_or(click > 1.0) FILTER (WHERE click.event_id % 2 = 1) "
        "AS any_big_odd "
        "FROM boost.events GROUP BY click.user_id",
        b,
    )
    rows = {r.uid: (r.nonneg, r.any_even, r.any_big_odd) for r in got.collect()}
    manual = (
        spark.table(b.view)
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.bool_and(F.col("value") >= 0.0).alias("nonneg"),
            F.bool_or(F.col("event_id") % 2 == 0).alias("any_even"),
            F.bool_or(
                F.when(F.col("event_id") % 2 == 1, F.col("value") > 1.0)
            ).alias("any_big_odd"),
        )
        .collect()
    )
    for r in manual:
        assert rows[r.user_id] == (r.nonneg, r.any_even, r.any_big_odd)


def test_groups_frame_rules(spark):
    """ANSI GROUPS window frames — peer-group counting lowered to
    dense_rank + rangeBetween (r10 verdict ask #5)."""
    q = parse(
        "SELECT sum(k.x) OVER (PARTITION BY k.a ORDER BY k.c "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM d.f k"
    )
    w = q.fields[0].window
    assert w.frame == (-1, 0) and w.frame_type == "groups"
    b = _events_binding(spark)
    with pytest.raises(ValueError, match="ORDER BY"):
        sugar.query(
            spark,
            "SELECT sum(click) OVER (PARTITION BY click.user_id "
            "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
            "FROM boost.events",
            b,
        )
    # semantics: CURRENT ROW covers the WHOLE peer group (ANSI GROUPS),
    # so tied rows get identical frame sums
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "click", 3.0, 10), (2, "click", 1.0, 10), (3, "click", 1.0, 10),
         (4, "click", 2.0, 20), (5, "click", 2.0, 20), (6, "click", 5.0, 20)],
        "event_id long, event_type string, value double, user_id long",
    )
    df.createOrReplaceTempView("_grp_events")
    gb = SeriesFamilyBinding(
        view="_grp_events", series_col="event_type",
        value_col="value", ts_col="event_id",
    )
    got = {
        r.eid: r.s
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, sum(click) OVER "
            "(PARTITION BY click.user_id ORDER BY click "
            "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
            "FROM boost.events",
            gb,
        ).collect()
    }
    assert got == {1: 5.0, 2: 2.0, 3: 2.0, 4: 4.0, 5: 4.0, 6: 9.0}
    # UNBOUNDED sentinels translate to Spark's unbounded range bounds
    got2 = {
        r.eid: r.s
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, sum(click) OVER "
            "(PARTITION BY click.user_id ORDER BY click "
            "GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s "
            "FROM boost.events",
            gb,
        ).collect()
    }
    assert got2 == {1: 5.0, 2: 2.0, 3: 2.0, 4: 4.0, 5: 4.0, 6: 9.0}


def test_frame_exclude_rules(spark):
    """ANSI frame exclusion — parse forms, refusals, and hand-checked
    leave-one-out semantics (round 11)."""
    # parse: all four spellings; NO OTHERS is the None default
    q = parse(
        "SELECT sum(k.x) OVER (PARTITION BY k.a ORDER BY k.c "
        "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING "
        "EXCLUDE CURRENT ROW) AS s FROM d.f k"
    )
    assert q.fields[0].window.exclude == "current"
    q = parse(
        "SELECT sum(k.x) OVER (PARTITION BY k.a ORDER BY k.c "
        "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING "
        "EXCLUDE GROUP) AS s FROM d.f k"
    )
    assert q.fields[0].window.exclude == "group"
    q = parse(
        "SELECT sum(k.x) OVER (PARTITION BY k.a ORDER BY k.c "
        "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING "
        "EXCLUDE TIES) AS s FROM d.f k"
    )
    assert q.fields[0].window.exclude == "ties"
    q = parse(
        "SELECT sum(k.x) OVER (PARTITION BY k.a ORDER BY k.c "
        "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING "
        "EXCLUDE NO OTHERS) AS s FROM d.f k"
    )
    assert q.fields[0].window.exclude is None

    from pyspark.sql import functions as F  # noqa: F401

    df = spark.createDataFrame(
        [(1, "click", 3.0, 10), (2, "click", 1.0, 10), (3, "click", 1.0, 10),
         (4, "click", 2.0, 20), (5, "click", 2.0, 20), (6, "click", 5.0, 20)],
        "event_id long, event_type string, value double, user_id long",
    )
    df.createOrReplaceTempView("_excl_events")
    gb = SeriesFamilyBinding(
        view="_excl_events", series_col="event_type",
        value_col="value", ts_col="event_id",
    )
    # EXCLUDE CURRENT ROW over an unbounded ROWS frame: per-partition
    # total minus self
    got = {
        r.eid: r.s
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, sum(click) OVER "
            "(PARTITION BY click.user_id ORDER BY click.event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING "
            "EXCLUDE CURRENT ROW) AS s FROM boost.events",
            gb,
        ).collect()
    }
    assert got == {1: 2.0, 2: 4.0, 3: 4.0, 4: 7.0, 5: 7.0, 6: 4.0}
    # min + EXCLUDE CURRENT ROW: frame-split via least(); the row
    # holding the partition minimum sees the second-smallest
    got = {
        r.eid: r.m
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, min(click) OVER "
            "(PARTITION BY click.user_id ORDER BY click.event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING "
            "EXCLUDE CURRENT ROW) AS m FROM boost.events",
            gb,
        ).collect()
    }
    assert got == {1: 1.0, 2: 1.0, 3: 1.0, 4: 2.0, 5: 2.0, 6: 2.0}
    # EXCLUDE GROUP over a GROUPS frame: peers (equal ORDER BY values)
    # drop out; ties rows 2,3 exclude each other
    got = {
        r.eid: r.s
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, sum(click) OVER "
            "(PARTITION BY click.user_id ORDER BY click "
            "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING "
            "EXCLUDE GROUP) AS s FROM boost.events",
            gb,
        ).collect()
    }
    # uid 10 by value: [1,1],[3] -> eid2/3 frame {1,1,3} minus peers
    # {1,1} = 3; eid1 frame {1,1,3} minus {3} = 2
    # uid 20: [2,2],[5] -> eid4/5 = 5; eid6 = 4
    assert got == {1: 2.0, 2: 3.0, 3: 3.0, 4: 5.0, 5: 5.0, 6: 4.0}
    # EXCLUDE TIES keeps the current row, drops the other peers
    got = {
        r.eid: r.s
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, sum(click) OVER "
            "(PARTITION BY click.user_id ORDER BY click "
            "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING "
            "EXCLUDE TIES) AS s FROM boost.events",
            gb,
        ).collect()
    }
    assert got == {1: 5.0, 2: 4.0, 3: 4.0, 4: 7.0, 5: 7.0, 6: 9.0}
    # refusals: GROUP/TIES over ROWS frames over-correct; extrema over
    # non-ROWS exclusion is not decomposable; rank takes no frame at
    # all so EXCLUDE cannot reach it
    with pytest.raises(ValueError, match="RANGE or GROUPS"):
        sugar.query(
            spark,
            "SELECT sum(click) OVER (PARTITION BY click.user_id "
            "ORDER BY click.event_id ROWS BETWEEN 1 PRECEDING AND "
            "1 FOLLOWING EXCLUDE GROUP) AS s FROM boost.events",
            gb,
        )
    with pytest.raises(ValueError, match="EXCLUDE GROUP"):
        sugar.query(
            spark,
            "SELECT min(click) OVER (PARTITION BY click.user_id "
            "ORDER BY click GROUPS BETWEEN 1 PRECEDING AND "
            "1 FOLLOWING EXCLUDE GROUP) AS m FROM boost.events",
            gb,
        )
    # a frame that never contains the current row makes EXCLUDE a
    # no-op (ANSI): trailing-only frame, sum unchanged by exclusion
    base = {
        r.eid: r.s
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, sum(click) OVER "
            "(PARTITION BY click.user_id ORDER BY click.event_id "
            "ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS s "
            "FROM boost.events",
            gb,
        ).collect()
    }
    noop = {
        r.eid: r.s
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, sum(click) OVER "
            "(PARTITION BY click.user_id ORDER BY click.event_id "
            "ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING "
            "EXCLUDE CURRENT ROW) AS s FROM boost.events",
            gb,
        ).collect()
    }
    assert base == noop


def test_limit_with_ties_rules(spark):
    """LIMIT n WITH TIES (round 11): parse, refusals, tie extension."""
    q = parse("SELECT k.x FROM d.f k ORDER BY k.x DESC LIMIT 5 WITH TIES")
    assert q.limit == 5 and q.limit_ties is True
    with pytest.raises(ValueError, match="requires ORDER BY"):
        parse("SELECT k.x FROM d.f k LIMIT 5 WITH TIES")
    with pytest.raises(ValueError, match="OFFSET"):
        parse(
            "SELECT k.x FROM d.f k ORDER BY k.x "
            "LIMIT 5 WITH TIES OFFSET 2"
        )
    df = spark.createDataFrame(
        [(1, "click", 9.0, 1), (2, "click", 9.0, 1), (3, "click", 9.0, 1),
         (4, "click", 5.0, 1), (5, "click", 5.0, 1), (6, "click", 1.0, 1)],
        "event_id long, event_type string, value double, user_id long",
    )
    df.createOrReplaceTempView("_ties_events")
    gb = SeriesFamilyBinding(
        view="_ties_events", series_col="event_type",
        value_col="value", ts_col="event_id",
    )
    # LIMIT 2: the page boundary sits inside the 9.0 tie group -> all
    # three 9.0 rows return (and nothing else)
    got = sorted(
        r.eid
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, click AS v "
            "FROM boost.events ORDER BY v DESC LIMIT 2 WITH TIES",
            gb,
        ).collect()
    )
    assert got == [1, 2, 3]
    # LIMIT 4: boundary inside the 5.0 group -> both 5.0 rows join the
    # full 9.0 group
    got = sorted(
        r.eid
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, click AS v "
            "FROM boost.events ORDER BY v DESC LIMIT 4 WITH TIES",
            gb,
        ).collect()
    )
    assert got == [1, 2, 3, 4, 5]
    # boundary exactly at a group edge -> plain-limit behavior
    got = sorted(
        r.eid
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, click AS v "
            "FROM boost.events ORDER BY v DESC LIMIT 3 WITH TIES",
            gb,
        ).collect()
    )
    assert got == [1, 2, 3]


def test_fetch_first_ansi_spelling(spark):
    """ANSI [OFFSET m ROWS] FETCH FIRST|NEXT n ROWS ONLY|WITH TIES —
    a pure alias for LIMIT n [WITH TIES] [OFFSET m] (round 11)."""
    q = parse(
        "SELECT k.x FROM d.f k ORDER BY k.x DESC FETCH FIRST 5 ROWS ONLY"
    )
    assert (q.limit, q.offset, q.limit_ties) == (5, None, False)
    q = parse(
        "SELECT k.x FROM d.f k ORDER BY k.x DESC "
        "OFFSET 10 ROWS FETCH NEXT 5 ROWS ONLY"
    )
    assert (q.limit, q.offset, q.limit_ties) == (5, 10, False)
    q = parse(
        "SELECT k.x FROM d.f k ORDER BY k.x DESC "
        "FETCH FIRST 5 ROWS WITH TIES"
    )
    assert (q.limit, q.offset, q.limit_ties) == (5, None, True)
    q = parse("SELECT k.x FROM d.f k ORDER BY k.x OFFSET 3 ROWS")
    assert (q.limit, q.offset, q.limit_ties) == (None, 3, False)
    with pytest.raises(ValueError, match="requires ORDER BY"):
        parse("SELECT k.x FROM d.f k FETCH FIRST 5 ROWS WITH TIES")
    with pytest.raises(ValueError, match="OFFSET"):
        parse(
            "SELECT k.x FROM d.f k ORDER BY k.x OFFSET 2 ROWS "
            "FETCH FIRST 5 ROWS WITH TIES"
        )
    with pytest.raises(ValueError, match="ONLY or WITH TIES"):
        parse("SELECT k.x FROM d.f k ORDER BY k.x FETCH FIRST 5 ROWS")
    # executes identically to the LIMIT spelling
    b = _events_binding(spark)
    a = sugar.query(
        spark,
        "SELECT click.event_id AS eid FROM boost.events "
        "ORDER BY eid LIMIT 7 OFFSET 2",
        b,
    ).collect()
    c = sugar.query(
        spark,
        "SELECT click.event_id AS eid FROM boost.events "
        "ORDER BY eid OFFSET 2 ROWS FETCH FIRST 7 ROWS ONLY",
        b,
    ).collect()
    assert a == c


def test_arg_minmax_rules(spark):
    """max_by/min_by (arg_max/arg_min) two-argument aggregates
    (round 13): parse both spellings, refuse the window form, lower
    to native max_by/min_by, compose with FILTER."""
    q = parse(
        "SELECT k.a AS g, max_by(k.x, k.c) AS last_x, "
        "arg_min(k.x, k.c) AS first_x FROM d.f k GROUP BY k.a"
    )
    assert q.fields[1].func == "max_by"
    assert q.fields[2].func == "min_by"  # arg_min is an alias
    assert q.fields[1].arg2_expr is not None
    with pytest.raises(ValueError, match="two arguments"):
        parse("SELECT max_by(k.x) AS m FROM d.f k GROUP BY k.a")
    with pytest.raises(ValueError, match="window"):
        parse(
            "SELECT max_by(k.x, k.c) OVER (PARTITION BY k.a) AS m "
            "FROM d.f k"
        )
    from pyspark.sql import functions as F

    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT click.user_id AS uid, "
        "max_by(click, click.event_id) AS v_last, "
        "min_by(click, click.event_id) AS v_first, "
        "max_by(click, click.event_id) FILTER "
        "(WHERE click.event_id % 2 = 0) AS v_last_even "
        "FROM boost.events GROUP BY click.user_id",
        b,
    )
    rows = {r.uid: (r.v_last, r.v_first, r.v_last_even) for r in got.collect()}
    manual = (
        spark.table(b.view)
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.max_by("value", "event_id").alias("v_last"),
            F.min_by("value", "event_id").alias("v_first"),
            F.max_by(
                F.col("value"),
                F.when(F.col("event_id") % 2 == 0, F.col("event_id")),
            ).alias("v_last_even"),
        )
        .collect()
    )
    for r in manual:
        assert rows[r.user_id] == (r.v_last, r.v_first, r.v_last_even)


def test_post_agg_expression_rules(spark):
    """Expressions over aggregate calls (round 13): sum/count ratios,
    round(avg), modulo checksums — compiled into the one hash
    aggregate + a post-projection; windowed mixes stay rejected."""
    q = parse(
        "SELECT k.a AS g, sum(k.x) / count(*) AS r FROM d.f k "
        "GROUP BY k.a"
    )
    assert q.fields[1].expr is not None
    # truly stray computed items still refuse
    with pytest.raises(ValueError, match="neither grouped nor aggregated"):
        parse_plan_reject = sugar.query  # noqa: F841 (planner-side check below)
        from boostdb_spark.plans.sugar import plan as _plan
        _plan(
            spark,
            parse("SELECT k.x + 1 AS y, sum(k.x) AS s FROM d.f k GROUP BY k.a"),
            _events_binding(spark),
        )
    from pyspark.sql import functions as F

    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT click.user_id AS uid, "
        "sum(click.event_id) % 97 AS m, "
        "sum(click.event_id) / count(*) AS mean_eid, "
        "round(avg(click), 2) AS a2, "
        "sum(click) AS s, sum(click) % 5.0 AS s_mod "
        "FROM boost.events GROUP BY click.user_id",
        b,
    )
    rows = {r.uid: (r.m, r.mean_eid, r.a2, r.s_mod) for r in got.collect()}
    manual = (
        spark.table(b.view)
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            (F.sum("event_id") % 97).alias("m"),
            (F.sum("event_id") / F.count(F.lit(1))).alias("mean_eid"),
            F.round(F.avg("value"), 2).alias("a2"),
            (F.sum("value") % 5.0).alias("s_mod"),
        )
        .collect()
    )
    for r in manual:
        assert rows[r.user_id] == (r.m, r.mean_eid, r.a2, r.s_mod)
    # global (no GROUP BY) aggregate expression
    g = sugar.query(
        spark,
        "SELECT sum(click.event_id) / count(*) AS mean_eid "
        "FROM boost.events",
        b,
    ).collect()
    mg = (
        spark.table(b.view)
        .filter(F.col("event_type") == "click")
        .agg((F.sum("event_id") / F.count(F.lit(1))).alias("x"))
        .collect()[0][0]
    )
    assert g[0].mean_eid == mg


def test_stat_aggregates_rules(spark):
    """stddev/variance/corr/covar dialect aggregates (round 13):
    native lowering parity vs the DataFrame API, FILTER composition,
    and the two-arg window refusal."""
    q = parse(
        "SELECT k.a AS g, stddev(k.x) AS sd, variance(k.x) AS v, "
        "corr(k.x, k.c) AS c FROM d.f k GROUP BY k.a"
    )
    assert q.fields[1].func == "stddev_samp"
    assert q.fields[2].func == "var_samp"
    assert q.fields[3].func == "corr" and q.fields[3].arg2_expr is not None
    with pytest.raises(ValueError, match="two arguments"):
        parse("SELECT corr(k.x) AS c FROM d.f k GROUP BY k.a")
    with pytest.raises(ValueError, match="window"):
        parse("SELECT corr(k.x, k.c) OVER (PARTITION BY k.a) AS c FROM d.f k")
    from pyspark.sql import functions as F

    b = _events_binding(spark)
    got = sugar.query(
        spark,
        "SELECT click.user_id AS uid, "
        "stddev_samp(click) AS sd, var_pop(click) AS vp, "
        "corr(click, click.event_id) AS c, "
        "covar_pop(click, click.event_id) AS cvp, "
        "stddev_samp(click) FILTER (WHERE click.event_id % 2 = 0) "
        "AS sd_even, "
        "round(stddev_samp(click), 6) AS sd6 "
        "FROM boost.events GROUP BY click.user_id",
        b,
    )
    rows = {
        r.uid: (r.sd, r.vp, r.c, r.cvp, r.sd_even, r.sd6)
        for r in got.collect()
    }
    manual = (
        spark.table(b.view)
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.stddev_samp("value").alias("sd"),
            F.var_pop("value").alias("vp"),
            F.corr("value", "event_id").alias("c"),
            F.covar_pop("value", "event_id").alias("cvp"),
            F.stddev_samp(
                F.when(F.col("event_id") % 2 == 0, F.col("value"))
            ).alias("sd_even"),
            F.round(F.stddev_samp("value"), 6).alias("sd6"),
        )
        .collect()
    )
    for r in manual:
        assert rows[r.user_id] == (
            r.sd, r.vp, r.c, r.cvp, r.sd_even, r.sd6
        )
