"""Property-based tests (hypothesis) for the dialect front: any
generated query in the grammar must parse to a faithful AST, and
planning must produce a DataFrame whose schema matches the field list.
The reference's parser tests cover 3 hand-written queries
(query/parser/parser_test.go:10-59); properties cover the space."""

import dataclasses

from hypothesis import example, given, settings, strategies as st

from boostdb_spark.plans import sugar

IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
    lambda s: s not in sugar._KEYWORDS
)


@st.composite
def field_refs(draw):
    n = draw(st.integers(1, 3))
    return ".".join(draw(IDENT) for _ in range(n))


@st.composite
def predicates(draw):
    ref = draw(field_refs())
    op = draw(st.sampled_from(["=", "!=", "<", "<=", ">", ">="]))
    lit = draw(
        st.one_of(
            st.integers(-1000, 1000).map(str),
            st.floats(0, 100, allow_nan=False).map(lambda f: f"{f:.3f}"),
            st.sampled_from(["'a'", "'it''s'", "true", "false"]),
        )
    )
    return f"{ref} {op} {lit}"


@given(
    fields=st.lists(field_refs(), min_size=1, max_size=4),
    domain=IDENT,
    family=IDENT,
    preds=st.lists(predicates(), min_size=0, max_size=3),
    conj=st.sampled_from(["and", "or"]),
    limit=st.one_of(st.none(), st.integers(1, 99)),
)
@settings(max_examples=200, deadline=None)
def test_parse_roundtrip(fields, domain, family, preds, conj, limit):
    sql = f"SELECT {', '.join(fields)} FROM {domain}.{family}"
    if preds:
        sql += " WHERE " + f" {conj} ".join(preds)
    if limit is not None:
        sql += f" LIMIT {limit}"
    q = sugar.parse(sql)
    assert [".".join(f.parts) for f in q.fields] == fields
    assert (q.domain, q.family) == (domain, family)
    assert (q.where is not None) == bool(preds)
    assert q.limit == limit
    # n-1 binary conjunctions for n predicates
    if len(preds) > 1:
        depth, node = 0, q.where
        while node.kind == conj:
            depth += 1
            node = node.children[0]
        assert depth == len(preds) - 1


@given(preds=st.lists(predicates(), min_size=2, max_size=4))
@settings(max_examples=100, deadline=None)
def test_and_binds_tighter_than_or(preds):
    sql = (
        f"SELECT a FROM d.f WHERE {preds[0]} or "
        + " and ".join(preds[1:])
    )
    q = sugar.parse(sql)
    assert q.where.kind == "or"
    rhs = q.where.children[1]
    assert rhs.kind == ("and" if len(preds) > 2 else "cmp")


@given(s=st.text(min_size=1, max_size=30))
@settings(max_examples=200, deadline=None)
def test_string_literal_escaping(s):
    lit = s.replace("'", "''")
    try:
        q = sugar.parse(f"SELECT a FROM d.f WHERE a.tag = '{lit}'")
    except ValueError:
        return  # unlexable chars outside the literal grammar are fine
    cmp_ = q.where
    assert cmp_.kind == "cmp" and cmp_.children[1].value == s


@given(
    name=IDENT,
    value=st.one_of(
        st.integers(-10**6, 10**6),
        st.floats(-1e6, 1e6, allow_nan=False),
        st.text(alphabet="abcxyz ", max_size=12),
    ),
    op=st.sampled_from(["=", "!=", "<", "<=", ">", ">="]),
)
@settings(max_examples=100, deadline=None)
def test_placeholder_parses_and_binds_any_value(spark, name, value, op):
    """:name placeholders parse anywhere a literal can appear, and the
    compiled predicate embeds exactly the bound value."""
    q = sugar.parse(f"SELECT a FROM d.f WHERE a {op} :{name}")
    cmp_ = q.where
    assert cmp_.kind == "cmp" and cmp_.children[1].kind == "param"
    assert cmp_.children[1].value == name
    # unbound -> loud failure naming the hole
    try:
        sugar._compile_expr(
            cmp_, sugar._Resolver(q, sugar.SeriesFamilyBinding(view="v")), params={}
        )
        raise AssertionError("unbound placeholder did not raise")
    except ValueError as e:
        assert name in str(e)
    col = sugar._compile_expr(
        cmp_, sugar._Resolver(q, sugar.SeriesFamilyBinding(view="v")),
        params={name: value},
    )
    assert col is not None


@given(preds=st.lists(predicates(), min_size=0, max_size=2))
@settings(max_examples=50, deadline=None)
def test_select_star_parse_space(preds):
    sql = "SELECT * FROM d.f"
    if preds:
        sql += " WHERE " + " and ".join(preds)
    q = sugar.parse(sql)
    assert q.star and q.fields == []


@given(
    junk=st.text(
        alphabet="abcdef SELECT FROM WHERE ().,*:<>='0123456789", max_size=60
    )
)
@settings(max_examples=200, deadline=None)
def test_parser_never_crashes_only_raises_value_error(junk):
    """Malformed input must surface as ValueError (the dialect's parse
    error contract, matching the reference's parse-time error return) —
    never an IndexError/AttributeError/infinite loop."""
    try:
        sugar.parse(junk)
    except ValueError:
        pass  # the contract


def _float_lit(f: float) -> tuple[str, str]:
    """A decimal literal as (dialect_text, spark_sql_text). The dialect
    reads ``1.50`` as DOUBLE, as DuckDB (the oracle) does; ``spark.sql``
    reads it as DECIMAL(3,2), so the reference spells it ``1.50D``."""
    t = f"{f:.2f}"
    return t, f"{t}D"


@st.composite
def arith_exprs(draw, depth=0):
    """Random arithmetic over the click series' value and user_id plus
    numeric literals — returns (dialect_text, spark_sql_text)."""
    if depth >= 2 or draw(st.booleans()):
        kind = draw(st.sampled_from(["value", "user", "int", "float"]))
        if kind == "value":
            return "click", "value"
        if kind == "user":
            return "click.user_id", "user_id"
        if kind == "int":
            n = draw(st.integers(1, 9))
            return str(n), str(n)
        return _float_lit(draw(st.floats(0.5, 9.5, allow_nan=False)))
    a_d, a_s = draw(arith_exprs(depth=depth + 1))
    op = draw(st.sampled_from(["+", "-", "*", "/"]))
    if op == "/":
        # ANSI division (Spark default) errors on a zero divisor and
        # the fixture's user_id reaches 0 — divide by literals only
        b_d, b_s = _float_lit(draw(st.floats(0.5, 9.5, allow_nan=False)))
    else:
        b_d, b_s = draw(arith_exprs(depth=depth + 1))
    if draw(st.booleans()):
        return f"({a_d} {op} {b_d})", f"({a_s} {op} {b_s})"
    return f"{a_d} {op} {b_d}", f"{a_s} {op} {b_s}"


def test_dialect_arithmetic_matches_spark_sql(spark):
    """Any generated arithmetic comparison must produce the same rows
    as the equivalent spark.sql query — parser precedence, grouping
    and compilation all under one property."""
    from tests.conftest import SF_DIR

    spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView(
        "events"
    )
    b = sugar.SeriesFamilyBinding(
        view="events", series_col="event_type", value_col="value", ts_col="ts"
    )

    @settings(max_examples=25, deadline=None)
    @given(lhs=arith_exprs(), rhs=arith_exprs(),
           op=st.sampled_from(["<", "<=", ">", ">=", "=", "!="]))
    # a DOUBLE/DECIMAL boundary: with the reference literal spelled
    # 1.50, spark.sql returned one row more than the dialect at sf0.001
    @example(lhs=("5 / 1.50", "5 / 1.50D"),
             rhs=("click / 1.50 + 1.50", "value / 1.50D + 1.50D"), op="<")
    def check(lhs, rhs, op):
        d = (f"SELECT click.event_id FROM boost.events "
             f"WHERE {lhs[0]} {op} {rhs[0]}")
        q = (f"SELECT event_id FROM events WHERE event_type = 'click' "
             f"AND {lhs[1]} {op} {rhs[1]}")
        got = sorted(r[0] for r in sugar.query(spark, d, b).collect())
        want = sorted(r[0] for r in spark.sql(q).collect())
        assert got == want, (d, q)

    check()


def test_dialect_case_matches_spark_sql(spark):
    """Random searched-CASE projections (conditions from the arithmetic
    grammar, numeric THEN/ELSE arms) through the dialect must equal
    the equivalent spark.sql rows — parse, branch order, and CaseWhen
    compilation under one property."""
    from tests.conftest import SF_DIR

    spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView(
        "events"
    )
    b = sugar.SeriesFamilyBinding(
        view="events", series_col="event_type", value_col="value", ts_col="ts"
    )

    @settings(max_examples=20, deadline=None)
    @given(
        conds=st.lists(
            st.tuples(
                arith_exprs(),
                st.sampled_from(["<", "<=", ">", ">=", "=", "!="]),
                arith_exprs(),
                st.integers(-9, 9),
            ),
            min_size=1,
            max_size=3,
        ),
        els=st.none() | st.integers(-9, 9),
    )
    def check(conds, els):
        whens_d = " ".join(
            f"WHEN {l[0]} {op} {r[0]} THEN {v}" for l, op, r, v in conds
        )
        whens_s = " ".join(
            f"WHEN {l[1]} {op} {r[1]} THEN {v}" for l, op, r, v in conds
        )
        e_d = e_s = f" ELSE {els}" if els is not None else ""
        d = (f"SELECT click.event_id, CASE {whens_d}{e_d} END AS c "
             f"FROM boost.events")
        q = (f"SELECT event_id, CASE {whens_s}{e_s} END AS c "
             f"FROM events WHERE event_type = 'click'")
        got = sorted(map(tuple, sugar.query(spark, d, b).collect()))
        want = sorted(map(tuple, spark.sql(q).collect()))
        assert got == want, (d, q)

    check()


@given(
    ty=st.sampled_from(
        ["BIGINT", "INT", "INTEGER", "DOUBLE", "VARCHAR", "STRING"]
    ),
    ref=field_refs(),
)
@settings(max_examples=60, deadline=None)
def test_cast_parses_any_whitelisted_target(ty, ref):
    """CAST(expr AS <whitelisted type>) parses for any ref/arith
    operand; the AST records the Spark-side cast target."""
    q = sugar.parse(f"SELECT CAST({ref} + 1 AS {ty}) AS x FROM d.f")
    e = q.fields[0].expr
    assert e is not None and e.kind == "cast"
    assert e.op == sugar._CAST_TYPES[ty.lower()]


@given(
    vals=st.lists(
        st.one_of(
            st.integers(-99, 99),
            st.from_regex(r"[a-z]{1,6}", fullmatch=True),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=60, deadline=None)
def test_pivot_value_list_roundtrip(vals):
    """PIVOT IN literal lists parse back to the same Python values."""
    lits = ", ".join(f"'{v}'" if isinstance(v, str) else str(v) for v in vals)
    q = sugar.parse(
        f"SELECT k FROM src PIVOT (count(*) FOR et IN ({lits}))"
    )
    assert q.pivot is not None and q.pivot.values == vals


@given(
    p1=st.integers(1, 49),
    p2=st.integers(50, 99),
)
@settings(max_examples=8, deadline=None)
def test_tablesample_monotone_property(spark, p1, p2):
    """For any p1 < p2, the p1% deterministic sample is a SUBSET of the
    p2% sample (monotone growth — the reproducible-training-set
    contract df.sample() cannot give)."""
    from tests.test_sugar import _events_binding

    b = _events_binding(spark)

    def ids(p):
        return {
            r.eid
            for r in sugar.query(
                spark,
                "SELECT click.event_id AS eid FROM boost.events "
                f"TABLESAMPLE ({p} PERCENT ON event_id)",
                b,
            ).collect()
        }

    s1, s2 = ids(p1), ids(p2)
    assert s1 <= s2


@given(
    vals=st.lists(
        st.integers(0, 5), min_size=1, max_size=30
    ),
    n=st.integers(1, 10),
)
@settings(max_examples=25, deadline=None)
def test_limit_with_ties_equals_rank_semantics(spark, vals, n):
    """Property: LIMIT n WITH TIES over ORDER BY v DESC returns EXACTLY
    the rows whose dense ordering rank (ANSI rank over the sort key)
    is within the top-n page — computed independently in Python. Ties
    at the boundary extend, ties never split, and the result is a set
    (order-free check)."""
    from boostdb_spark.plans.sugar import SeriesFamilyBinding

    rows = [
        (i + 1, "click", float(v), 1) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double, user_id long"
    )
    df.createOrReplaceTempView("_ties_prop_events")
    gb = SeriesFamilyBinding(
        view="_ties_prop_events", series_col="event_type",
        value_col="value", ts_col="event_id",
    )
    got = sorted(
        r.eid
        for r in sugar.query(
            spark,
            "SELECT click.event_id AS eid, click AS v FROM boost.events "
            f"ORDER BY v DESC LIMIT {n} WITH TIES",
            gb,
        ).collect()
    )
    # independent model: rank() semantics on the sort key
    by_desc = sorted(vals, reverse=True)
    if n >= len(vals):
        expect = sorted(eid for eid, *_ in rows)
    else:
        boundary = by_desc[n - 1]
        expect = sorted(
            eid for (eid, _, v, _) in rows if v >= float(boundary)
        )
    assert got == expect


@given(
    agg1=st.sampled_from(["sum", "min", "max", "avg", "count"]),
    agg2=st.sampled_from(["sum", "min", "max", "avg", "count"]),
    op=st.sampled_from(["+", "-", "*", "/"]),
)
@settings(max_examples=60, deadline=None)
def test_post_agg_expression_parse_space(agg1, agg2, op):
    """Any arithmetic combination of plain-column aggregate calls
    parses as ONE computed field whose refs are all aggregates
    (round-13 expressions-over-aggregates surface)."""
    sql = (
        f"SELECT k.a AS g, {agg1}(k.x) {op} {agg2}(k.y) AS r "
        "FROM d.f k GROUP BY k.a"
    )
    q = sugar.parse(sql)
    assert q.fields[1].expr is not None
    from boostdb_spark.plans.sugar import _expr_refs

    refs = list(_expr_refs(q.fields[1].expr))
    assert len(refs) == 2
    assert all(r.func is not None for r in refs)


def test_post_agg_ratio_matches_spark_sql(spark):
    """sum/sum, max-min and count arithmetic through the dialect equal
    the same expressions through Spark SQL on the events fixture."""
    from tests.conftest import SF_DIR

    spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView(
        "events"
    )
    b = sugar.SeriesFamilyBinding(
        view="events", series_col="event_type", value_col="value",
        ts_col="ts",
    )
    got = sugar.query(
        spark,
        "SELECT click.user_id AS uid, "
        "sum(click) / sum(click.event_id) AS r, "
        "max(click) - min(click) AS spread, "
        "count(*) * 2 AS n2 FROM boost.events GROUP BY click.user_id",
        b,
    )
    exp = spark.sql(
        "SELECT user_id AS uid, sum(value) / sum(event_id) AS r, "
        "max(value) - min(value) AS spread, count(*) * 2 AS n2 "
        "FROM events WHERE event_type = 'click' GROUP BY user_id"
    )
    ga = {r.uid: (r.r, r.spread, r.n2) for r in got.collect()}
    for r in exp.collect():
        assert ga[r.uid] == (r.r, r.spread, r.n2)


_COL = st.sampled_from(["a.x", "a.y", "a.z"])


@st.composite
def call_texts(draw):
    """Any row of the dialect's function table (by any of its names),
    called with valid arguments and modifiers it admits."""
    name = draw(st.sampled_from(sorted(sugar._FN_NAMES)))
    func = sugar._FN_NAMES[name]
    fn = sugar._FUNCS[func]
    if fn.form == "cast":
        return f"{name}({draw(_COL)} AS {draw(st.sampled_from(sorted(sugar._CAST_TYPES)))})"
    if fn.form == "extract":
        part = draw(st.sampled_from([n for n, f in sugar._FUNCS.items() if f.part]))
        return f"{name}({part} FROM {draw(_COL)})"
    distinct = fn.distinct is not None and draw(st.booleans())
    plain = distinct or draw(st.booleans())
    arg = (
        _COL.map(lambda c: f"{c} > 1") if fn.pred
        else _COL if plain else _COL.map(lambda c: f"{c} * 2")
    )
    n = draw(st.integers(fn.lo, fn.hi if fn.hi is not None else fn.lo + 2))
    args = [draw(arg) for _ in range(n)]
    special = {
        "round": lambda: args[:1] + [str(draw(st.integers(0, 4)))] * (n - 1),
        "date_trunc": lambda: ["'day'", args[1]],
        "ntile": lambda: [str(draw(st.integers(1, 9)))],
        "percentile_cont": lambda: [f"{draw(st.floats(0, 1)):.2f}"],
        "percentile_disc": lambda: [f"{draw(st.floats(0, 1)):.2f}"],
        "string_agg": lambda: args[:1] + ["'|'"] * (n - 1),
    }
    args = special.get(func, lambda: args)()
    if fn.star and not distinct and draw(st.booleans()):
        args = ["*"]
    text = f"{name}({'DISTINCT ' * distinct}{', '.join(args)})"
    if fn.within:
        text += f" WITHIN GROUP (ORDER BY a.k{draw(st.sampled_from(['', ' DESC']))})"
    if fn.nulls and draw(st.booleans()):
        text += draw(st.sampled_from([" IGNORE NULLS", " RESPECT NULLS"]))
    over = fn.over == "required" or (fn.over == "allowed" and draw(st.booleans()))
    if fn.filter and not over and not distinct and draw(st.booleans()):
        text += " FILTER (WHERE a.y > 0)"
    if over:
        text += " OVER (PARTITION BY a.k ORDER BY a.t)"
    return text


def _call_node(x):
    """The call node of a parsed position: a FieldRef call without its
    alias, or a scalar call's Expr."""
    if isinstance(x, sugar.FieldRef):
        return x.expr if x.expr is not None else dataclasses.replace(x, alias=None)
    return x.value if x.kind == "ref" else x


@given(call=call_texts())
@settings(max_examples=300, deadline=None)
def test_one_call_grammar_in_every_position(call):
    """The same call text parses to the same node as a select item, as
    an argument of round(), as a HAVING operand and as an ORDER BY key."""
    item = sugar.parse(f"SELECT {call} AS c FROM d.f a").fields[0]
    rounded = sugar.parse(f"SELECT round({call}, 2) AS r FROM d.f a").fields[0]
    having = sugar.parse(f"SELECT a.k FROM d.f a GROUP BY a.k HAVING {call} > 0").having
    order = sugar.parse(f"SELECT a.k FROM d.f a ORDER BY {call} DESC").order_by[0][0]
    node = _call_node(item)
    assert _call_node(rounded.expr.children[0]) == node
    assert _call_node(having.children[0]) == node
    assert _call_node(order) == node
