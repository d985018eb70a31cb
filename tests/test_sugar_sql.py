"""The dialect front's SQL text surface: sugar.plan prints one Spark SQL
statement, so values, literals, names and types must survive the trip
through text exactly, and planning must leave the catalog as it found
it."""

import duckdb
import pandas as pd
import pytest

from boostdb_spark.plans import sugar

_B = sugar.SeriesFamilyBinding(view="sugar_sql_tbl", series_col="series", ts_col="mts")


@pytest.fixture(scope="module")
def tbl(spark):
    rows = [
        ("purchase", 0, 1.0, 1, "it's -- a; b", 7, 8),
        ("purchase", 1, 2.0, 2, "plain", 7, 8),
        ("purchase", 2, 3.0, None, "x", 7, 8),
        ("k_some", 3, 4.0, 2, "y", 7, 8),
        ("k_some", 4, 5.0, None, "y", 7, 8),
        ("k_null", 5, 6.0, None, "z", 7, 8),
    ]
    schema = (
        "series string, mts long, value double, uid long, note string, "
        "`table` long, `order` long"
    )
    spark.createDataFrame(rows, schema).createOrReplaceTempView(_B.view)
    pdf = pd.DataFrame(rows, columns=[
        "series", "mts", "value", "uid", "note", "table", "order"
    ])
    return pdf.astype({"uid": "Int64"})  # NULL, not NaN, in DuckDB


@pytest.mark.parametrize("keys", ["k_some", "k_null", "k_empty"])
def test_not_in_subquery_null_semantics_match_duckdb(spark, tbl, keys):
    """NOT IN (SELECT ...) is three-valued: a NULL key in the subquery
    (or a NULL probe value against a non-empty subquery) rejects the
    row; an empty subquery keeps every row, NULL probes included."""
    got = sugar.query(
        spark,
        "SELECT purchase.uid AS uid FROM d.f "
        f"WHERE purchase.uid NOT IN (SELECT {keys}.uid FROM d.f)",
        _B,
    ).collect()
    con = duckdb.connect()
    con.register("t", tbl)
    want = con.execute(
        "SELECT uid FROM t WHERE series = 'purchase' AND uid NOT IN "
        f"(SELECT uid FROM t WHERE series = '{keys}')"
    ).fetchall()
    key = lambda v: (v is None, v or 0)  # noqa: E731
    assert sorted((r.uid for r in got), key=key) == sorted(
        (r[0] for r in want), key=key
    )


def test_string_literal_and_param_round_trip(spark, tbl):
    text = "it's -- a; b"
    nul = "\x000\x00"  # the shape of a frame slot in the emitted text
    df = sugar.query(
        spark,
        f"SELECT 'it''s -- a; b' AS lit, :p AS param, purchase.note AS note, '{nul}' AS nul "
        "FROM d.f WHERE purchase.note = :p AND purchase.note = 'it''s -- a; b'",
        _B,
        params={"p": text},
    )
    assert [tuple(r) for r in df.collect()] == [(text, text, text, nul)]


def test_reserved_word_attribute_resolves(spark, tbl):
    df = sugar.query(
        spark,
        "SELECT purchase.table AS t, purchase.order AS o FROM d.f "
        "WHERE purchase.order > 0 ORDER BY purchase.mts",
        _B,
    )
    assert [tuple(r) for r in df.collect()] == [(7, 8)] * 3


def test_float_literal_and_round_stay_double(spark, tbl):
    df = sugar.query(
        spark,
        "SELECT purchase.mts * 0.5 AS h, round(purchase.mts, 2) AS r FROM d.f",
        _B,
    )
    assert dict(df.dtypes) == {"h": "double", "r": "double"}
    assert sorted(r.h for r in df.collect()) == [0.0, 0.5, 1.0]


def test_plan_leaves_catalog_and_frame_reusable(spark, tbl):
    before = sorted(t.name for t in spark.catalog.listTables())
    df = sugar.query(
        spark,
        "SELECT purchase.uid AS uid FROM d.f "
        "WHERE purchase.uid IN (SELECT k_some.uid FROM d.f) "
        "UNION ALL SELECT purchase.uid AS uid FROM d.f WHERE purchase > :v",
        _B,
        params={"v": 2.5},
    )
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    first = sorted(r.uid for r in df.collect() if r.uid is not None)
    assert first == [2] and df.count() == 2
    assert sorted(r.uid for r in df.collect() if r.uid is not None) == first


def test_subquery_unknown_attribute_is_refused(spark, tbl):
    """An inner name the subquery's own family lacks must not resolve
    against the outer query (a silent correlation in Spark SQL)."""
    spark.createDataFrame(
        [("purchase", 0, 1.0, 2)], "series string, mts long, value double, user_id long"
    ).createOrReplaceTempView("sugar_sql_tbl2")
    b2 = sugar.SeriesFamilyBinding(view="sugar_sql_tbl2", series_col="series", ts_col="mts")
    binding = {"d.f": _B, "d.o": b2}
    q = (
        "SELECT purchase.uid AS uid FROM d.f WHERE purchase.uid IN "
        "(SELECT o.purchase.user_id FROM d.o o WHERE o.purchase.{} > 1)"
    )
    assert [r.uid for r in sugar.query(spark, q.format("user_id"), binding).collect()] == [2]
    with pytest.raises(ValueError, match="has no column 'uid'"):
        sugar.query(spark, q.format("uid"), binding)


def _duck(tbl, sql):
    con = duckdb.connect()
    con.register("t", tbl)
    return con.execute(sql).fetchall()


def test_groups_frame_over_join(spark, tbl):
    """Peer groups of a.mts over the 3 x 2 join: each group's b values
    sum to 3.0; one preceding group doubles it after the first."""
    got = sugar.query(
        spark,
        "SELECT a.purchase.mts AS t, b.purchase.mts AS u, sum(b.purchase) OVER "
        "(ORDER BY a.purchase.mts GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
        "FROM d.f a JOIN d.f b ON a.table = b.table WHERE b.purchase.mts < 2",
        _B,
    ).collect()
    assert sorted(map(tuple, got)) == [
        (0, 0, 3.0), (0, 1, 3.0), (1, 0, 6.0), (1, 1, 6.0), (2, 0, 6.0), (2, 1, 6.0)
    ]


def test_asof_join_after_another_join_matches_duckdb(spark, tbl):
    got = sugar.query(
        spark,
        "SELECT a.purchase.mts AS t, b.k_some.mts AS u, c.purchase AS v "
        "FROM d.f a JOIN d.f b ON a.table = b.table ASOF JOIN d.f c ON a.order = c.order",
        _B,
    ).collect()
    want = _duck(
        tbl,
        'SELECT l.mts, l.bmts, c.value FROM (SELECT a.mts, a."order", b.mts AS bmts '
        'FROM t a JOIN t b ON a."table" = b."table" '
        "WHERE a.series = 'purchase' AND b.series = 'k_some') l "
        "ASOF LEFT JOIN (SELECT * FROM t WHERE series = 'purchase') c "
        'ON l."order" = c."order" AND l.mts >= c.mts',
    )
    assert sorted(map(tuple, got)) == sorted(want) and len(want) == 6


@pytest.mark.parametrize("pct", [0, 40, 70, 100])
def test_tablesample_on_cte_matches_operator(spark, tbl, pct):
    from pyspark.sql import functions as F

    from boostdb_spark.operators.sampling import deterministic_sample

    got = sugar.query(
        spark,
        "WITH c AS (SELECT k_some.mts AS m, k_some.note AS n FROM d.f "
        "UNION ALL SELECT purchase.mts AS m, purchase.note AS n FROM d.f) "
        f"SELECT m FROM c TABLESAMPLE ({pct} PERCENT ON n)",
        _B,
    ).collect()
    src = spark.table(_B.view).filter(F.col("series").isin("k_some", "purchase"))
    want = deterministic_sample(src, "note", pct / 100).select("mts").collect()
    assert sorted(r.m for r in got) == sorted(r.mts for r in want)


def test_lateral_tokenize_over_cte_matches_operator(spark, tbl):
    from pyspark.sql import functions as F

    from boostdb_spark.operators.text import tokens

    got = sugar.query(
        spark,
        "WITH c AS (SELECT purchase.note AS n, purchase.mts AS m FROM d.f) "
        "SELECT c.m AS m, t.pos AS pos, t.token AS tok "
        "FROM c JOIN LATERAL tokenize(c.n) t WHERE t.pos > 0",
        _B,
    ).collect()
    want = (
        spark.table(_B.view).filter("series = 'purchase'")
        .select("mts", F.posexplode(tokens(F.col("note"))))
        .filter("pos > 0").collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and len(want) == 3


_BY_UID = "SELECT purchase.uid AS u, count(*) AS c FROM d.f GROUP BY purchase.uid "
_DUCK_BY_UID = "SELECT uid, count(*) FROM t WHERE series = 'purchase' GROUP BY uid "


@pytest.mark.parametrize("dialect, duck, ordered", [
    (
        "SELECT purchase.uid AS u, round(sum(purchase.mts * purchase), 2) AS s "
        "FROM d.f GROUP BY purchase.uid",
        "SELECT uid, round(sum(mts * value), 2) FROM t WHERE series = 'purchase' GROUP BY uid",
        False,
    ),
    (_BY_UID + "HAVING sum(purchase.mts * 2) > 3", _DUCK_BY_UID + "HAVING sum(mts * 2) > 3", False),
    (
        _BY_UID + "HAVING max_by(purchase.mts, purchase) > 1",
        _DUCK_BY_UID + "HAVING max_by(mts, value) > 1",
        False,
    ),
    (
        "SELECT purchase.table AS k, count(*) AS c FROM d.f GROUP BY purchase.table "
        "HAVING corr(purchase.mts, purchase) > 0",
        "SELECT \"table\", count(*) FROM t WHERE series = 'purchase' GROUP BY \"table\" "
        "HAVING corr(mts, value) > 0",
        False,
    ),
    (_BY_UID + "HAVING bool_or(purchase > 1)", _DUCK_BY_UID + "HAVING bool_or(value > 1)", False),
    (
        _BY_UID + "HAVING sum(purchase) FILTER (WHERE purchase.mts > 0) > 1",
        _DUCK_BY_UID + "HAVING sum(value) FILTER (WHERE mts > 0) > 1",
        False,
    ),
    (
        "SELECT purchase.table AS k, stddev(purchase.mts) AS sd FROM d.f "
        "GROUP BY purchase.table ORDER BY stddev(purchase.mts)",
        "SELECT \"table\", stddev(mts) FROM t WHERE series = 'purchase' GROUP BY \"table\"",
        True,
    ),
    (
        _BY_UID + "ORDER BY sum(purchase.mts * purchase) DESC",
        _DUCK_BY_UID + "ORDER BY sum(mts * value) DESC",
        True,
    ),
    (
        "SELECT purchase.table AS k, round(sum(purchase), 2) AS s FROM d.f GROUP BY ALL",
        "SELECT \"table\", round(sum(value), 2) FROM t WHERE series = 'purchase' GROUP BY \"table\"",
        False,
    ),
], ids=[
    "round_sum_expr", "having_sum_expr", "having_max_by", "having_corr",
    "having_bool_or", "having_filter", "order_by_stddev", "order_by_hidden_expr",
    "group_all_skips_agg_expr",
])
def test_call_parses_in_every_clause_and_matches_duckdb(spark, tbl, dialect, duck, ordered):
    """A call plans the same wherever it stands: an aggregate over an
    expression inside round(), in HAVING and in ORDER BY (a hidden
    aggregate when the select list lacks it), two-argument and predicate
    aggregates and FILTER in HAVING."""
    got = [tuple(r) for r in sugar.query(spark, dialect, _B).collect()]
    want = _duck(tbl, duck)
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    assert got == want and want


def test_exponent_literals_match_duckdb(spark, tbl):
    """1e3, 1E3, 2.5e-3 and .5e2 are DOUBLE literals, as Spark and DuckDB
    read them, in the select list and in WHERE."""
    got = sugar.query(
        spark,
        "SELECT purchase.mts AS m, purchase * 1e3 AS k, purchase.mts * 1E3 AS h, "
        "purchase + 2.5e-3 AS j FROM d.f WHERE purchase < .5e2 AND purchase.mts < 1.5e0 "
        "AND purchase > -1e0",
        _B,
    ).collect()
    want = _duck(
        tbl,
        "SELECT mts, value * 1e3, mts * 1E3, value + 2.5e-3 FROM t WHERE series = 'purchase' "
        "AND value < .5e2 AND mts < 1.5e0 AND value > -1e0",
    )
    assert sorted(map(tuple, got)) == sorted(want) and len(want) == 2


def test_overflowing_numeric_literal_is_refused():
    with pytest.raises(ValueError, match="1e999"):
        sugar.parse("SELECT purchase FROM d.f WHERE purchase < 1e999")


@pytest.mark.parametrize("sql", [
    "SELECT purchase.mts AS m FROM d.f WHERE sum(purchase.mts) > 1",
    "SELECT purchase.mts + sum(purchase) AS z FROM d.f",
])
def test_aggregate_call_outside_aggregation_is_refused(spark, tbl, sql):
    """An aggregate call where no aggregation runs must not print as its
    argument column."""
    with pytest.raises(ValueError, match="outside an aggregation scope"):
        sugar.query(spark, sql, _B)


@pytest.mark.parametrize("frame", ["asof", "values"])
def test_brace_literals_beside_frames(spark, tbl, frame):
    """A statement that names a DataFrame frame (an as-of join, a VALUES
    table) goes through PySpark's ``{name}`` formatting, so every brace
    of its inlined text (the family sources and the literals) must come
    through escaped."""
    if frame == "asof":
        sql = (
            "SELECT a.purchase.mts AS t, c.purchase AS v, '{p0}' AS s FROM d.f a "
            "ASOF JOIN d.f c ON a.order = c.order WHERE a.purchase.note <> '}{'"
        )
        want = [(0, 1.0, "{p0}"), (1, 2.0, "{p0}"), (2, 3.0, "{p0}")]
    else:
        sql = (
            "SELECT a.purchase.mts AS t, v.k AS k, '{' AS s FROM d.f a "
            "JOIN (VALUES ('{p0}', 'plain'), ('}{', 'x')) v(k, n) ON a.note = v.n"
        )
        want = [(1, "{p0}", "{"), (2, "}{", "{")]
    assert sorted(map(tuple, sugar.query(spark, sql, _B).collect())) == want
