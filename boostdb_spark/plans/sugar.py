"""The boostdb SQL-dialect front: parse -> resolve names -> ONE Spark SQL
statement.

The reference parses its dialect with the TiDB parser into ``QueryOps``
(query/parser/parser.go:25-52), plans a fetch/select/where DAG by hand
(query/executor/planner.go:115-243), and executes it row by row
(query/executor/executor.go:184-274). Here the pipeline is:

1. **Parse.** A recursive-descent parser turns the dialect into a
   ``BoostQuery`` (the QueryOps analog): ``SELECT`` with computed
   items, window specs (ROWS / RANGE INTERVAL / GROUPS frames,
   EXCLUDE, named WINDOWs), joins (inner/outer/cross, USING, theta
   residuals, ASOF, LATERAL), WITH [RECURSIVE], derived tables,
   VALUES, PIVOT/UNPIVOT, TABLESAMPLE, WHERE with ``:name``
   placeholders and IN / EXISTS / scalar subqueries, GROUP BY
   (ROLLUP/CUBE/GROUPING SETS/ALL/ordinals), HAVING, QUALIFY, set
   operations, DISTINCT [ON], ORDER BY (expressions, NULLS FIRST/LAST,
   ALL) and LIMIT/OFFSET/FETCH [WITH TIES].

   Every ``name(...)`` call, in every position (select items, ORDER
   BY, GROUP BY, WHERE, HAVING, QUALIFY, CASE, arithmetic, call
   arguments, PIVOT), goes through one method, :meth:`_Parser.parse_call`,
   driven by one table, :data:`_FUNCS`. A row gives a function's
   kind (scalar, aggregate or window), aliases, arity, the modifiers it
   admits (DISTINCT, ``*``, FILTER, WITHIN GROUP, IGNORE/RESPECT NULLS,
   OVER required/allowed/forbidden), a small validator where one is
   needed, and its Spark SQL spelling, which the emitter prints the
   call from. Adding a plain scalar or aggregate function is adding one
   row.
2. **Resolve names.** The dialect's own rules apply, exactly as the
   reference declares them (query/parser/selectfieldparser.go:100-135,
   whereparser.go:271-285):

   - ``series``            -> that series' value column (value sugar)
   - ``series.attr``       -> per-datapoint attribute column
   - ``alias.series.attr`` -> ditto, alias-qualified; bare ``s`` and
     ``domain.family`` sources; default output names (``value``,
     ``count``, ``min_value``, ...); plain non-grouped fields in a
     grouped query default to AVG (GROUP BY is a declared-only stub in
     the reference, query/base/expression.go:22-32);
   - ``round(x[, n])`` is the ENGINE-INDEPENDENT grid
     ``floor(x*10^n + 0.5)/10^n`` (ANSI half-up rounding is not
     bit-stable across engines); ``floor``/``ceil`` return DOUBLE.

   Each family source is one piece of SQL text printed in one place,
   ``(SELECT * FROM view WHERE ...)``: the predicate is
   ``sources.seriesfamily.family_predicate``, the series the query
   names (the FetchSeries fan-out) ANDed with the implicit
   ``[start, end)`` time range (query/executor/executor.go:145-147),
   whose INT64-ns bounds also prune ``ts_date`` partitions. It is
   filled in when the statement runs, once every name is resolved.
3. **One Spark SQL statement.** Everything else prints as SQL over the
   resolved names and runs through ``spark.sql(text, args=params)``:
   ``:name`` values bind through ``args`` (user values never become
   SQL text), and literals come only from the parser, quoted,
   floats as DOUBLE. Catalyst resolves, optimizes and pushes the
   filters into each scan. Only the operators below that need a
   DataFrame add one, as a frame the text names through PySpark's
   ``{name}`` DataFrame formatting.
4. **Lowering for the constructs Spark 4.1 lacks.** Seven are
   rewritten: QUALIFY and DISTINCT ON become subquery wrappers (DISTINCT
   ON a ``row_number`` filter), GROUPS frames a RANGE frame over a
   ``dense_rank`` of the sort key, frame EXCLUDE the window arithmetic
   of :func:`_window_exclude`, LIMIT ... WITH TIES a broadcast semi-join
   against the page's sort keys, ASOF JOIN the
   ``operators.timeseries.asof_join`` frame, and UNION-distinct
   recursion the fixpoint loop of :func:`_plan_recursive_cte`.
   TABLESAMPLE (``sampling._bucket``) and LATERAL ``tokenize``
   (``text.tokens``) are DataFrame steps on a frame of their source's
   relation. Where a construct needs the FROM items so far as one
   relation (GROUPS over a join, an ASOF JOIN, LATERAL after another
   source), :meth:`_Emitter.flatten` makes them one, columns named
   ``key__col``.

Comparison coercion follows ANSI Spark semantics, deliberately not the
reference's left-type-wins quirks (SURVEY.md section 1.2).
"""

from __future__ import annotations

import dataclasses
import math
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from boostdb_spark.functions.scalar import _ident, _lit
from boostdb_spark.sources.seriesfamily import family_predicate

# --------------------------------------------------------------------------
# Binding: how a series-family maps onto a physical table
# --------------------------------------------------------------------------


@dataclass
class SeriesFamilyBinding:
    """Maps ``domain.family`` to a registered table and its canonical
    columns. The driver's ``events`` fixture plays the series-family role
    with ``event_type`` as the series name (FIXTURES.md section 2)."""

    view: str  # registered Spark view name
    series_col: str = "series"
    value_col: str = "value"
    ts_col: str = "ts"


# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<num>(?:\d+\.\d+|\.\d+|\d+)(?:[eE][+-]?\d+)?)
      | (?P<str>'(?:[^']|'')*')
      | (?P<param>:[A-Za-z_][A-Za-z0-9_]*)
      | (?P<name>[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)
      | (?P<op><=|>=|!=|<>|=|<|>|\(|\)|,|\*|-|\+|/|%)
    )""",
    re.VERBOSE,
)

_KEYWORDS = {
    "select", "from", "where", "and", "or", "not", "in", "between", "like",
    "is", "null", "as", "group", "by", "having", "order", "limit", "asc",
    "desc", "join", "inner", "cross", "on", "true", "false", "over",
    "partition", "left", "outer", "union", "intersect", "except", "all",
    "rows", "unbounded", "preceding", "following", "current", "row",
    "offset", "distinct", "rollup", "cube", "exists",
    "case", "when", "then", "else", "end", "with", "right", "full",
    "qualify", "nulls", "first", "last", "asof", "using", "filter",
    "recursive", "range", "window", "ignore", "respect", "values",
    "exclude", "groups", "within",
}


def _num(v: str) -> int | float:
    """Value of a ``num`` token. SQL decimals and exponent literals coerce
    to float64 (Spark and DuckDB read ``1e3`` as DOUBLE), ints to int64
    (whereparser.go:223-246)."""
    if v.isdigit():
        return int(v)
    x = float(v)
    if math.isinf(x):
        raise ValueError(f"numeric literal {v} overflows a DOUBLE")
    return x


def _tokenize(sql: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            if sql[pos:].strip() == "":
                break
            raise ValueError(f"cannot tokenize at: {sql[pos:pos + 20]!r}")
        pos = m.end()
        if m.lastgroup == "name":
            v = m.group("name")
            if v.lower() in _KEYWORDS and "." not in v:
                toks.append(("kw", v.lower()))
            else:
                toks.append(("name", v))
        elif m.lastgroup == "num":
            toks.append(("num", m.group("num")))
        elif m.lastgroup == "param":
            toks.append(("param", m.group("param")[1:]))
        elif m.lastgroup == "str":
            toks.append(("str", m.group("str")[1:-1].replace("''", "'")))
        else:
            toks.append(("op", m.group("op")))
    toks.append(("eof", ""))
    return toks


# --------------------------------------------------------------------------
# AST (QueryOps analog — query/base/queryops.go:11-21)
# --------------------------------------------------------------------------


@dataclass
class WindowSpec:
    """An OVER (PARTITION BY ... ORDER BY ...) clause — the analytic
    extension of the dialect (nothing in the reference parses OVER)."""

    partition_by: list["FieldRef"] = field(default_factory=list)
    order_by: list[tuple["FieldRef", bool]] = field(default_factory=list)
    #: frame (start, end) offsets from the current row; UNBOUNDED is
    #: +/-(2^63-1). 'rows' counts rows, 'range_ns' nanoseconds on the
    #: one ORDER BY time column (RANGE BETWEEN INTERVAL), 'groups' peer
    #: groups (ANSI GROUPS)
    frame: tuple[int, int] | None = None
    frame_type: str = "rows"
    #: ANSI frame exclusion: None (NO OTHERS) | 'current' | 'group' | 'ties'
    exclude: str | None = None
    #: OVER w — a named WINDOW clause, substituted after the core parses
    pending_name: str | None = None


@dataclass
class FieldRef:
    """A sugared column reference (selectfieldparser.go:100-135),
    optionally wrapped in an aggregate / window call — the syntax the
    reference declares via its Aggregate/GroupBy enums but never parses
    (query/base/expression.go:16-25). A call's first argument is
    ``parts`` when it is a plain column, else ``arg_expr``."""

    parts: tuple[str, ...]
    alias: str | None = None  # AS name (parsed but unused in ref, :88)
    #: aggregate/window function (``name_distinct`` for DISTINCT);
    #: parts=() for count(*)
    func: str | None = None
    window: "WindowSpec | None" = None
    #: computed select item (parts/func unused; AS alias required)
    expr: "Expr | None" = None
    #: first call argument when it is an expression (parts=())
    arg_expr: "Expr | None" = None
    #: second call argument
    arg2_expr: "Expr | None" = None
    #: ANSI ``agg(x) FILTER (WHERE pred)``
    filter_expr: "Expr | None" = None
    #: ``fn(x) IGNORE NULLS`` (gap-fill / LOCF)
    ignore_nulls: bool = False
    #: WITHIN GROUP (ORDER BY k [DESC], ...) keys
    within_group: "list[tuple[FieldRef, bool]] | None" = None

    @property
    def sep(self) -> str:
        """string_agg's separator: its second argument, else ',' (the
        ANSI listagg default)."""
        return "," if self.arg2_expr is None else self.arg2_expr.value


@dataclass
class Expr:
    kind: str  # 'cmp' | 'and' | 'or' | 'not' | 'in' | 'between' | 'like' | 'isnull' | 'lit' | 'ref' | 'param' | ...
    op: str | None = None
    children: list["Expr"] = field(default_factory=list)
    value: object = None  # literal value, FieldRef or subquery BoostQuery


@dataclass
class JoinClause:
    """A parsed join — the JoinInfo the reference collects and then
    drops on the floor (joinparser.go:84-201 parses it; AddJoinOp at
    query/base/queryops.go:60-66 has an empty body). Here it plans."""

    domain: str  # "" = WITH-clause (CTE) / derived-table reference
    family: str
    alias: str | None
    kind: str  # 'inner' | 'left' | 'right' | 'full' | 'cross' | 'asof' | 'lateral'
    #: AND-ed equi pairs (a.x = b.y [AND ...]), None for cross
    on: list[tuple[FieldRef, FieldRef]] | None
    #: non-equi ON conjuncts — residual filters on the equi hash join
    extra: "list[Expr] | None" = None
    #: LATERAL only: the table function's argument (family = function)
    lateral_arg: "Expr | None" = None


@dataclass
class ValuesTable:
    """An inline ``(VALUES (...), (...)) t(a, b)`` constant table; it
    rides the derived-table slot and plans as one LocalRelation."""

    cols: list[str]
    rows: list[list]


#: table functions the dialect's [CROSS] JOIN LATERAL accepts, with
#: their output columns. Whitelisted functions compile to pure-JVM
#: generators; arbitrary Python UDTFs stay on the DataFrame/SQL API
#: (functions/udtf.py), where the row-at-a-time Python cost is explicit.
_LATERAL_FNS: dict[str, tuple[str, ...]] = {
    "tokenize": ("token", "pos"),
}


@dataclass
class PivotClause:
    """``PIVOT (agg(col | *) FOR key IN (v1, v2, ...))`` with an
    EXPLICIT value list (static schema, one aggregate); every source
    column the clause does not reference is a group key."""

    func: str  # an aggregate of the call table
    agg_col: str | None  # None = count(*)
    key_col: str
    values: list  # literal pivot values (strings/numbers)


@dataclass
class UnpivotClause:
    """``UNPIVOT (val FOR key IN (c1, c2, ...))``; NULL cells drop
    (ANSI/DuckDB default EXCLUDE NULLS)."""

    val_col: str
    key_col: str
    cols: list[str]


@dataclass
class SampleClause:
    """``TABLESAMPLE (p PERCENT ON key)`` — a DETERMINISTIC ~p% sample
    keyed on a column's hash bucket (operators/sampling.py), not
    row-level Bernoulli RNG, which changes with partitioning and cannot
    be certified. Monotone: the 20% sample contains the 10% sample."""

    pct: float
    key_col: str


@dataclass
class BoostQuery:
    """IR #1 — the QueryOps analog (query/base/queryops.go:11-21).
    Constructed POSITIONALLY in parse_core: new fields go at the END."""

    fields: list[FieldRef]
    domain: str
    family: str
    source_alias: str | None
    where: Expr | None
    group_by: list[FieldRef] = field(default_factory=list)
    having: Expr | None = None
    #: (ref, desc, nulls) — nulls is 'first' | 'last' | None
    order_by: list[tuple[FieldRef, bool, str | None]] = field(
        default_factory=list
    )
    limit: int | None = None
    offset: int | None = None
    joins: list[JoinClause] = field(default_factory=list)
    star: bool = False  # SELECT *
    distinct: bool = False
    #: SELECT DISTINCT ON (k, ...) — one row per key group, chosen by
    #: the residual ORDER BY keys
    distinct_on: list[FieldRef] = field(default_factory=list)
    exclude: list[str] = field(default_factory=list)  # SELECT * EXCLUDE (...)
    #: 'plain' | 'rollup' | 'cube' | 'grouping_sets'
    group_mode: str = "plain"
    #: GROUPING SETS key lists ([] = grand total); group_by holds the
    #: deduped union of all set keys
    grouping_sets: list[list["FieldRef"]] | None = None
    #: (op, rhs) chain applied left-associatively: 'union' |
    #: 'union_all' | 'intersect' | 'intersect_all' | 'except' | 'except_all'
    set_ops: list[tuple[str, "BoostQuery"]] = field(default_factory=list)
    #: WITH-clause and derived-table subqueries, in declaration order;
    #: later bodies and the main query reference earlier names
    ctes: list[tuple[str, "BoostQuery"]] = field(default_factory=list)
    #: QUALIFY <pred> over the window projection's output names
    qualify: Expr | None = None
    #: on a CTE BODY declared WITH RECURSIVE that self-references:
    #: body = base UNION [ALL] recursive term (linear recursion)
    recursive: bool = False
    #: PIVOT/UNPIVOT / TABLESAMPLE on the anchor source
    pivot: "PivotClause | None" = None
    unpivot: "UnpivotClause | None" = None
    sample: "SampleClause | None" = None
    #: LIMIT n WITH TIES (FETCH FIRST ... WITH TIES): rows tied with the
    #: page boundary on the full ORDER BY key are included
    limit_ties: bool = False


def _expr_subqueries(e: "Expr | None"):
    """Yield every BoostQuery nested in an expression tree (scalar /
    IN / EXISTS subqueries)."""
    if e is None:
        return
    if e.kind == "subquery" and e.value is not None:
        yield e.value
    for c in e.children:
        yield from _expr_subqueries(c)


def _direct_cte_refs(q: "BoostQuery", name: str) -> int:
    """References to CTE ``name`` in q's OWN FROM/JOIN chain only."""
    n = int(q.domain == "" and q.family == name)
    return n + sum(
        1 for j in q.joins if j.domain == "" and j.family == name
    )


def _total_cte_refs(q: "BoostQuery", name: str) -> int:
    """References to CTE ``name`` anywhere in q's subtree: FROM/JOIN,
    nested CTE/derived bodies, set-op branches, and subquery
    expressions — the linear-recursion validator for WITH RECURSIVE."""
    n = _direct_cte_refs(q, name)
    for _, b in q.ctes:
        if isinstance(b, ValuesTable):
            continue  # literal rows cannot reference a CTE
        n += _total_cte_refs(b, name)
    for _, rhs in q.set_ops:
        n += _total_cte_refs(rhs, name)
    exprs = [q.where, q.having, q.qualify]
    for f in q.fields:
        exprs.append(f.expr)
        exprs.append(getattr(f, "filter_expr", None))
    for e in exprs:
        for sq in _expr_subqueries(e):
            n += _total_cte_refs(sq, name)
    return n


# --------------------------------------------------------------------------
# The call table: every ``name(...)`` the dialect knows
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class _Fn:
    """One function of the dialect. The parser reads its arity and the
    modifiers it admits; the emitter prints it from ``sql``: a format
    template over the printed arguments (``{0}``, ``{args}`` joined),
    the call node (``{node}``) and the printed WITHIN GROUP keys
    (``{order}``), or a function ``(args, keys, node) -> str``."""

    kind: str  # 'scalar' | 'agg' | 'window'
    lo: int = 1
    hi: int | None = 1  # None: variadic
    sql: "str | Callable | None" = None  # None: name({args})
    aliases: tuple[str, ...] = ()
    distinct: str | None = None  # what DISTINCT prints ('' = a no-op); None refuses it
    star: bool = False  # name(*)
    filter: bool = False  # FILTER (WHERE ...)
    within: int = 0  # WITHIN GROUP (ORDER BY ...), required if set: 1 one key, 2 any
    nulls: bool = False  # IGNORE / RESPECT NULLS
    over: str = "forbidden"  # OVER: 'forbidden' | 'allowed' | 'required'
    frame: bool = True  # a window frame is meaningful
    pred: bool = False  # the arguments are predicates
    form: str | None = None  # keyword argument syntax: 'cast' | 'extract'
    part: bool = False  # a date part EXTRACT(part FROM ts) names
    check: "Callable | None" = None  # validator of the parsed call


def _is_lit(e: "Expr | None", types) -> bool:
    return (
        e is not None and e.kind == "lit" and isinstance(e.value, types)
        and not isinstance(e.value, bool)
    )


def _round_check(e: "Expr") -> None:
    if len(e.children) == 2 and not _is_lit(e.children[1], int):
        raise ValueError("round() scale must be an integer literal")


def _round_sql(args: list[str], keys, e: "Expr") -> str:
    """round(x[, n]) as the engine-independent grid floor(x*10^n +
    0.5)/10^n: identical IEEE ops on every engine, where ANSI half-up
    rounding differs between Spark's BigDecimal and DuckDB's binary
    rounding at half boundaries."""
    scale = _lit(float(10 ** (e.children[1].value if len(e.children) == 2 else 0)))
    return f"(floor((({args[0]} * {scale}) + 0.5D)) / {scale})"


def _date_trunc_check(e: "Expr") -> None:
    if not _is_lit(e.children[0], str):
        raise ValueError("date_trunc('unit', ts) requires a string-literal unit")


def _distinct_check(c: "FieldRef") -> None:
    if c.func.endswith("_distinct") and c.arg_expr is not None:
        raise ValueError(f"{c.func.removesuffix('_distinct')}(DISTINCT ...) takes a plain column")


def _avg_check(c: "FieldRef") -> None:
    _distinct_check(c)
    if c.func.endswith("_distinct") and c.filter_expr is not None:
        raise ValueError("avg(DISTINCT col) does not combine with FILTER (WHERE ...)")


def _sep_check(c: "FieldRef") -> None:
    if c.arg2_expr is not None and not _is_lit(c.arg2_expr, str):
        raise ValueError("string_agg separator must be a string literal")


def _string_agg_sql(args: list[str], keys, c: "FieldRef") -> str:
    """array_join(transform(array_sort(collect_list(struct(k..., x))),
    s -> s.x), sep) rather than Spark's native listagg: the struct sort
    breaks ties by the VALUE deterministically (native listagg leaves
    tie order unspecified). One partial+final hash aggregate."""
    descs = {d for _, d in keys}
    if len(descs) > 1:
        raise ValueError(
            "WITHIN GROUP (ORDER BY ...) keys must share one direction (all "
            "ASC or all DESC) — mixed-direction ordered-set aggregation is not supported"
        )
    val = f"CAST({args[0]} AS STRING)"
    st = ", ".join(f"'_o{i}', {k}" for i, (k, _) in enumerate(keys))
    arr = (
        f"array_sort(collect_list(CASE WHEN ({val} IS NOT NULL) THEN "
        f"named_struct({st}, '_v', {val}) END))"
    )
    if descs == {True}:
        arr = f"reverse({arr})"
    return f"array_join(transform({arr}, s -> s._v), {_lit(c.sep)})"


def _fraction_check(c: "FieldRef") -> None:
    if not (_is_lit(c.arg_expr, (int, float)) and 0 <= c.arg_expr.value <= 1):
        raise ValueError(f"{c.func}(f) requires a numeric literal fraction in [0, 1]")


def _ntile_check(c: "FieldRef") -> None:
    if not (_is_lit(c.arg_expr, int) and c.arg_expr.value >= 1):
        raise ValueError("ntile(n) requires a positive integer literal")


#: native inverse-distribution aggregates: one partial+final
#: ObjectHashAggregate (plan-pinned in tests/test_plan_shapes.py)
_PERCENTILE_SQL = "{node.func}({node.arg_expr.value!r}) WITHIN GROUP (ORDER BY {order})"

#: The dialect's functions, by canonical name. Everything prints as
#: built-in Catalyst expressions; a plain scalar or aggregate function
#: is one more row.
_FUNCS: dict[str, _Fn] = {
    **{n: _Fn("scalar") for n in (
        "abs", "sqrt", "upper", "lower", "length", "trim", "ltrim", "rtrim", "reverse",
    )},
    **{n: _Fn("scalar", part=True) for n in ("year", "month", "hour", "minute")},
    "day": _Fn("scalar", sql="dayofmonth({0})", part=True),
    # DOUBLE like DuckDB's, not Spark's natural LONG
    "floor": _Fn("scalar", sql="CAST(floor({0}) AS DOUBLE)"),
    "ceil": _Fn("scalar", sql="CAST(ceil({0}) AS DOUBLE)"),
    **{n: _Fn("scalar", 2, None) for n in ("coalesce", "concat", "greatest", "least")},
    "nullif": _Fn("scalar", 2, 2),
    "substring": _Fn("scalar", 3, 3),
    "replace": _Fn("scalar", 3, 3),
    "round": _Fn("scalar", 1, 2, sql=_round_sql, check=_round_check),
    "date_trunc": _Fn("scalar", 2, 2, check=_date_trunc_check),
    "cast": _Fn("scalar", sql="CAST({0} AS {node.op})", form="cast"),
    "extract": _Fn("scalar", form="extract"),
    "count": _Fn("agg", distinct="DISTINCT ", star=True, filter=True, over="allowed",
                 check=_distinct_check),
    "sum": _Fn("agg", distinct="DISTINCT ", filter=True, over="allowed"),
    "avg": _Fn("agg", distinct="DISTINCT ", filter=True, over="allowed", check=_avg_check),
    "min": _Fn("agg", distinct="", filter=True, over="allowed"),
    "max": _Fn("agg", distinct="", filter=True, over="allowed"),
    # stddev/variance are the _samp ANSI defaults, as in DuckDB/Spark
    "stddev_samp": _Fn("agg", aliases=("stddev",), filter=True, over="allowed"),
    "stddev_pop": _Fn("agg", filter=True, over="allowed"),
    "var_samp": _Fn("agg", aliases=("variance",), filter=True, over="allowed"),
    "var_pop": _Fn("agg", filter=True, over="allowed"),
    **{n: _Fn("agg", 2, 2, filter=True) for n in ("corr", "covar_samp", "covar_pop")},
    # the x of the row with the maximal y; NULL y rows are ignored, ties
    # on y are engine-unspecified (use a unique order key)
    "max_by": _Fn("agg", 2, 2, aliases=("arg_max",), filter=True),
    "min_by": _Fn("agg", 2, 2, aliases=("arg_min",), filter=True),
    "bool_and": _Fn("agg", aliases=("every",), filter=True, pred=True),
    "bool_or": _Fn("agg", filter=True, pred=True),
    # the ordering is required: an unordered concatenation is
    # nondeterministic under distributed execution
    "string_agg": _Fn("agg", 1, 2, sql=_string_agg_sql, aliases=("listagg",), within=2,
                      check=_sep_check),
    "percentile_cont": _Fn("agg", sql=_PERCENTILE_SQL, within=1, check=_fraction_check),
    "percentile_disc": _Fn("agg", sql=_PERCENTILE_SQL, within=1, check=_fraction_check),
    **{n: _Fn("window", 0, 0, over="required", frame=False) for n in (
        "rank", "dense_rank", "row_number", "percent_rank", "cume_dist",
    )},
    "ntile": _Fn("window", over="required", frame=False, check=_ntile_check),
    "lag": _Fn("window", over="required", frame=False),
    "lead": _Fn("window", over="required", frame=False),
    # IGNORE NULLS over a preceding frame is the gap-fill (LOCF) idiom
    "first_value": _Fn("window", sql="first({0}, {node.ignore_nulls})", nulls=True,
                       over="required"),
    "last_value": _Fn("window", sql="last({0}, {node.ignore_nulls})", nulls=True,
                      over="required"),
}
_FN_NAMES = {a: n for n, f in _FUNCS.items() for a in (n, *f.aliases)}

#: CAST target whitelist: dialect type name -> Spark cast type. Only the
#: cross-engine-deterministic targets are admitted. bigint/int on a
#: DOUBLE input only certifies for integral values (DuckDB rounds,
#: Spark truncates — never route a fractional double through these);
#: float32 is excluded (pandas float32 vs DuckDB REAL repr drift).
_CAST_TYPES: dict = {
    "bigint": "long",
    "long": "long",
    "int": "int",
    "integer": "int",
    "double": "double",
    "varchar": "string",
    "string": "string",
    "date": "date",
    "timestamp": "timestamp",
}


def _call_sql(func: str, args: list[str], node=None, keys=(), flt: str | None = None) -> str:
    """One call printed from its table row: ``args`` are the printed
    arguments, ``keys`` the printed WITHIN GROUP (sql, desc) keys,
    ``flt`` the printed FILTER predicate."""
    name = func.removesuffix("_distinct")
    fn = _FUNCS[name]
    if name != func:
        args = [fn.distinct + ", ".join(args)]
    elif not args and fn.star:
        args = ["1"]
    if callable(fn.sql):
        out = fn.sql(args, keys, node)
    else:
        order = ", ".join(k + (" DESC" if d else "") for k, d in keys)
        out = (fn.sql or name + "({args})").format(
            *args, args=", ".join(args), node=node, order=order
        )
    return out + (f" FILTER (WHERE {flt})" if flt else "")


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0
        #: derived tables found while parsing the CURRENT query level
        #: (FROM/JOIN ``( SELECT ... ) alias`` — anonymous CTEs); each
        #: parse_query call snapshots/restores this so a derived table
        #: attaches to the query level where it appears
        self.derived: list[tuple[str, "BoostQuery"]] = []
        self._dt_n = 0  # statement-global counter: unique internal names

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect_kw(self, kw: str):
        t = self.next()
        if t != ("kw", kw):
            raise ValueError(f"expected {kw.upper()}, got {t}")

    def accept_kw(self, kw: str) -> bool:
        if self.peek() == ("kw", kw):
            self.i += 1
            return True
        return False

    def accept_op(self, op: str) -> bool:
        if self.peek() == ("op", op):
            self.i += 1
            return True
        return False

    def peek2(self):
        return self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None

    #: contextual ("soft") keywords: plain names in IDENTIFIER positions
    #: (name_next), keywords in CLAUSE positions
    _SOFT_KW = frozenset(
        {"first", "last", "filter", "using", "nulls", "qualify", "asof",
         "recursive", "range", "window", "ignore", "respect", "values",
         "exclude", "groups", "within"}
    )

    def name_next(self):
        """next() with soft-keyword downgrade for identifier positions."""
        kind, v = self.next()
        if kind == "kw" and v in self._SOFT_KW:
            return "name", v
        return kind, v

    def _name(self, err: str, plain: bool = True) -> str:
        """The next name (unqualified if ``plain``), else
        ValueError(err); a ``{!r}`` in err shows the token."""
        kind, v = self.name_next()
        if kind != "name" or (plain and "." in v):
            raise ValueError(err.format(v))
        return v

    def _expect_name(self, word: str, err: str) -> None:
        """Consume the contextual word ``word``, else ValueError(err)."""
        kind, v = self.name_next()
        if kind != "name" or v.lower() != word:
            raise ValueError(err.format(v))

    @staticmethod
    def _validate_recursive_cte(name: str, body: "BoostQuery") -> None:
        """A recursive CTE body must be LINEAR recursion:
        ``<base> UNION [ALL] <recursive-term>`` with exactly ONE
        self-reference, in the recursive term's own FROM/JOIN chain —
        the shape every mainstream engine supports. Everything else
        (no set-op, self-reference in the base, in a subquery/derived
        body, or more than once = non-linear/mutual recursion) is
        refused loudly; INTERSECT/EXCEPT recursion has no monotone
        fixpoint and is refused with the same error."""
        if len(body.set_ops) != 1 or body.set_ops[0][0] not in (
            "union",
            "union_all",
        ):
            raise ValueError(
                f"WITH RECURSIVE {name!r}: body must be exactly "
                "<base-term> UNION [ALL] <recursive-term>"
            )
        if body.order_by or body.limit is not None:
            raise ValueError(
                f"WITH RECURSIVE {name!r}: ORDER BY/LIMIT inside the "
                "recursive body is not supported"
            )
        rec = body.set_ops[0][1]
        base = dataclasses.replace(body, set_ops=[])
        if _total_cte_refs(base, name) != 0:
            raise ValueError(
                f"WITH RECURSIVE {name!r}: the non-recursive base term "
                "(or a derived table/subquery) references the CTE — "
                "only the recursive term's FROM/JOIN may, once"
            )
        if _direct_cte_refs(rec, name) != 1 or _total_cte_refs(rec, name) != 1:
            raise ValueError(
                f"WITH RECURSIVE {name!r}: non-linear recursion — the "
                "recursive term must reference the CTE exactly once, "
                "directly in its FROM/JOIN chain"
            )

    # query := [WITH [RECURSIVE] name AS ( query ) {, ...}]
    #          core {(UNION | INTERSECT | EXCEPT) [ALL] core}
    #          [ORDER BY ...] [LIMIT n]
    # ``sub=True`` parses a parenthesized subquery body (the caller owns
    # the ')'); WITH attaches to the top-level statement only.
    def parse_query(self, sub: bool = False) -> BoostQuery:
        saved_derived = self.derived
        self.derived = []
        ctes: list[tuple[str, BoostQuery]] = []
        if not sub and self.accept_kw("with"):
            is_recursive = self.accept_kw("recursive")
            while True:
                name = self._name("WITH requires a plain (unqualified) name, got {!r}")
                if any(name == n for n, _ in ctes):
                    raise ValueError(f"duplicate WITH name {name!r}")
                self.expect_kw("as")
                if not self.accept_op("("):
                    raise ValueError("WITH name AS ( SELECT ... ) requires '('")
                body = self.parse_query(sub=True)
                if not self.accept_op(")"):
                    raise ValueError(f"unbalanced WITH subquery for {name!r}")
                if is_recursive and _total_cte_refs(body, name) > 0:
                    self._validate_recursive_cte(name, body)
                    body.recursive = True
                elif _total_cte_refs(body, name) > 0:
                    raise ValueError(
                        f"WITH {name!r} references itself — declare "
                        "WITH RECURSIVE for a fixpoint query"
                    )
                ctes.append((name, body))
                if not self.accept_op(","):
                    break
        q = self.parse_core()
        while True:  # left-associative set-op chain
            if self.accept_kw("union"):
                op = "union_all" if self.accept_kw("all") else "union"
            elif self.accept_kw("intersect"):
                # INTERSECT ALL keeps duplicate multiplicity
                # (min of the two sides' counts, ANSI bag semantics)
                op = "intersect_all" if self.accept_kw("all") else "intersect"
            elif self.accept_kw("except"):
                # EXCEPT ALL subtracts multiplicities (left minus right)
                op = "except_all" if self.accept_kw("all") else "except"
            else:
                break
            q.set_ops.append((op, self.parse_core()))
        # ORDER BY / LIMIT attach to the WHOLE statement (after set ops)
        (q.order_by, q.limit, q.offset,
         q.limit_ties) = self.parse_order_limit(q.fields)
        if not sub and self.peek()[0] != "eof":
            raise ValueError(f"trailing tokens at {self.peek()}")
        # named CTEs first (a derived table may reference them), then
        # this level's anonymous derived tables, in appearance order
        q.ctes = ctes + self.derived
        self.derived = saved_derived
        return q

    def _ordinal_item(
        self, fields: list[FieldRef], clause: str, allow_agg: bool
    ) -> "FieldRef | None":
        """``GROUP BY 1`` / ``ORDER BY 2`` positional references —
        resolved AT PARSE TIME to the select item they name (plain refs
        become the ref; computed/aggregate items route through their AS
        alias). Returns None when the next token is not a number."""
        if self.peek()[0] != "num":
            return None
        _, n = self.next()
        if not n.isdigit():
            raise ValueError(f"{clause} position must be an integer, got {n}")
        i = int(n)
        if not fields or not (1 <= i <= len(fields)):
            raise ValueError(f"{clause} {i} is out of range (select list has {len(fields)} items)")
        f = fields[i - 1]
        if f.window is not None:
            raise ValueError(f"{clause} {i} names a window-function item")
        if f.func is not None:
            if not allow_agg:
                raise ValueError(f"{clause} {i} names an aggregate select item")
            if not f.alias:
                raise ValueError(
                    f"{clause} {i} names an aggregate item without an "
                    "AS alias — add one to reference it by position"
                )
            return FieldRef((f.alias,))
        if f.expr is not None:
            return FieldRef((f.alias,))  # computed items always carry AS
        return FieldRef(f.parts)

    def parse_order_limit(self, fields: list[FieldRef] | None = None):
        order_by: list[tuple[FieldRef, bool, str | None]] = []
        if self.accept_kw("order"):
            self.expect_kw("by")
            if self.accept_kw("all"):
                # ORDER BY ALL (DuckDB idiom): every select item,
                # left-to-right, ascending — expanded at parse time
                if not fields:
                    raise ValueError(
                        "ORDER BY ALL requires an explicit select list "
                        "(SELECT * has no parse-time column order)"
                    )
                for f in fields:
                    if f.window is not None:
                        raise ValueError(
                            "ORDER BY ALL cannot cover window-function "
                            "items — order by their aliases explicitly"
                        )
                    if (f.func is not None or f.expr is not None) and not f.alias:
                        raise ValueError(
                            "ORDER BY ALL needs an AS alias on every computed/aggregate select item"
                        )
                    tgt = FieldRef((f.alias,)) if f.alias else FieldRef(f.parts)
                    order_by.append((tgt, False, None))
            else:
                while True:
                    # bare numbers are ordinals, a bare ref or call is a
                    # key, anything else an expression over select-list
                    # OUTPUT columns
                    f2 = self._ordinal_item(fields or [], "ORDER BY", allow_agg=True)
                    if f2 is None:
                        e = self.parse_arith()
                        f2 = e.value if e.kind == "ref" else FieldRef((), expr=e)
                    desc = self.accept_kw("desc")
                    if not desc:
                        self.accept_kw("asc")
                    nulls = None
                    if self.accept_kw("nulls"):
                        # explicit NULLS FIRST/LAST — the only portable
                        # ordering of nullable keys (Spark ties the default
                        # to ASC/DESC, DuckDB defaults to NULLS LAST)
                        if self.accept_kw("first"):
                            nulls = "first"
                        elif self.accept_kw("last"):
                            nulls = "last"
                        else:
                            raise ValueError("NULLS requires FIRST or LAST")
                    order_by.append((f2, desc, nulls))
                    if not self.accept_op(","):
                        break
        limit = offset = None
        ties = False

        def number(what: str) -> int:
            k, v = self.next()
            if k != "num":
                raise ValueError(f"{what} requires a number")
            return int(v)

        def with_ties(what: str) -> bool:
            # WITH TIES: rows tied with the page boundary on the full
            # sort key extend the page
            self.next()
            self._expect_name("ties", f"expected TIES after {what}WITH, got {{!r}}")
            if not order_by:
                raise ValueError(
                    f"{what}... WITH TIES requires ORDER BY (ties are defined by the sort key)"
                )
            return True

        if self.accept_kw("limit"):
            limit = number("LIMIT")
            if self.peek() == ("kw", "with"):
                ties = with_ties("LIMIT n ")
            if self.accept_kw("offset"):
                offset = number("OFFSET")
        elif self._peek_name() in ("offset", "fetch") or self.peek() == ("kw", "offset"):
            # ANSI spelling: [OFFSET m ROWS] FETCH FIRST|NEXT n
            # ROWS|ROW ONLY|WITH TIES — an alias for LIMIT n [WITH TIES]
            # [OFFSET m]
            if self.accept_kw("offset") or self._accept_name("offset"):
                offset = number("OFFSET")
                self.accept_kw("rows") or self.accept_kw("row")
            if self._accept_name("fetch"):
                if not (self.accept_kw("first") or self._accept_name("next")):
                    raise ValueError("FETCH takes FIRST or NEXT")
                limit = number("FETCH FIRST")
                if not (self.accept_kw("rows") or self.accept_kw("row")):
                    raise ValueError("FETCH FIRST n takes ROWS/ROW")
                if self.peek() == ("kw", "with"):
                    ties = with_ties("FETCH FIRST ")
                elif not self._accept_name("only"):
                    raise ValueError("FETCH FIRST n ROWS takes ONLY or WITH TIES")
        if ties and offset is not None:
            raise ValueError(
                "LIMIT ... WITH TIES cannot combine with OFFSET (the "
                "tie-extended page has no stable row offsets)"
            )
        return order_by, limit, offset, ties

    def _peek_name(self) -> str | None:
        t = self.peek()
        return t[1].lower() if t[0] == "name" else None

    def _accept_name(self, word: str) -> bool:
        t = self.peek()
        if t[0] == "name" and t[1].lower() == word:
            self.i += 1
            return True
        return False

    def _name_list(self, what: str) -> list[str]:
        """``(col [, col])`` of plain column names after ``what``."""
        if not self.accept_op("("):
            raise ValueError(f"{what} requires a (col [, col]) list")
        out = []
        while True:
            out.append(self._name(f"{what} takes plain column names, got {{!r}}"))
            if not self.accept_op(","):
                break
        if not self.accept_op(")"):
            raise ValueError(f"unbalanced {what} column list")
        return out

    def _key_list(self, item, what: str) -> list:
        """``(k [, k])`` group-key list of ROLLUP/CUBE/a grouping set."""
        out = [item()]
        while self.accept_op(","):
            out.append(item())
        if not self.accept_op(")"):
            raise ValueError(f"unbalanced {what} list")
        return out

    def parse_core(self) -> BoostQuery:
        self.expect_kw("select")
        distinct = self.accept_kw("distinct")
        distinct_on: list[FieldRef] = []
        if distinct and self.accept_kw("on"):
            # DISTINCT ON (k, ...): one survivor per key group, picked by
            # the residual ORDER BY (postgres semantics)
            if not self.accept_op("("):
                raise ValueError("DISTINCT ON requires a (col [, col]) list")
            distinct_on = self._key_list(self.parse_plain_ref, "DISTINCT ON column")
            distinct = False  # ON replaces the plain projection dedup
        star = False
        exclude: list[str] = []
        fields: list[FieldRef] = []
        if self.accept_op("*"):
            # SELECT * expands to every column of the bound source (the
            # reference REJECTS it, selectfieldparser.go:108-114)
            star = True
            if self.accept_kw("exclude"):  # SELECT * EXCLUDE (a, b)
                exclude = self._name_list("EXCLUDE")
            if self.peek() == ("op", ","):
                raise ValueError("SELECT * cannot be mixed with named fields")
        else:
            fields = [self.parse_select_item()]
            while self.accept_op(","):
                fields.append(self.parse_select_item())
        self.expect_kw("from")
        domain, family, alias = self.parse_source()
        pivot_c, unpivot_c = self._try_parse_reshape()
        if (pivot_c or unpivot_c) and alias is None and self.peek()[0] == "name":
            alias = self.next()[1]  # ANSI: FROM t PIVOT (...) alias
        sample_c = self._try_parse_tablesample()
        joins: list[JoinClause] = []
        while True:
            if self.accept_kw("cross"):
                self.expect_kw("join")
                lat = self._try_parse_lateral()
                if lat is None:
                    lat = JoinClause(*self.parse_source(), "cross", None)
                joins.append(lat)
                continue
            kind = next(
                (k for k in ("inner", "left", "right", "full", "asof") if self.accept_kw(k)),
                None,
            )
            if kind in ("left", "right", "full"):
                self.accept_kw("outer")
            if kind is not None:
                self.expect_kw("join")
            elif self.accept_kw("join"):
                kind = "inner"
            else:
                break
            # ASOF JOIN: equi keys in ON; the time ordering is IMPLICIT on
            # each family's canonical ts column (backward: latest right
            # row at or before the left row's ts)
            lat = self._try_parse_lateral()
            if lat is not None:
                if kind != "inner":
                    raise ValueError(
                        "LATERAL is supported on [CROSS/INNER] JOIN "
                        "only (inner generator semantics)"
                    )
                joins.append(lat)
                continue
            jd, jf, ja = self.parse_source()
            pairs: list[tuple[FieldRef, FieldRef]] = []
            extras: list[Expr] = []
            if self.accept_kw("using"):
                # USING (k, ...) — same-named equi keys. The empty source
                # is the plan-time sentinel: the left key resolves
                # against the ACCUMULATED left side (the first FROM/JOIN
                # source that has the column). Both key columns survive
                # (no ANSI coalescing); inner joins make them equal.
                pairs = [
                    (FieldRef(("", c)), FieldRef((ja or jf, c)))
                    for c in self._name_list("USING")
                ]
            else:
                self.expect_kw("on")
                # name=name equality conjuncts are the hash-join keys;
                # any other conjunct (b.ts > a.ts) is a residual filter
                # on the SAME join — never a cartesian
                for cj in _conjuncts(self.parse_or()):
                    ch = cj.children if cj.kind == "cmp" else []
                    if cj.kind == "cmp" and cj.op == "=" and len(ch) == 2 and all(
                        s.kind == "ref" and s.value.func is None and len(s.value.parts) >= 2
                        for s in ch
                    ):
                        pairs.append((ch[0].value, ch[1].value))
                    else:
                        extras.append(cj)
                if not pairs:
                    raise ValueError(
                        "JOIN ... ON requires at least one equi pair "
                        "a.x = b.y (theta-only ON would plan a "
                        "cartesian product)"
                    )
                if extras and kind == "asof":
                    raise ValueError(
                        "ASOF JOIN ON takes equi pairs only (the time "
                        "ordering is implicit on the family ts)"
                    )
            joins.append(JoinClause(jd, jf, ja, kind, pairs, extras or None))
        where = self.parse_or() if self.accept_kw("where") else None
        group_by: list[FieldRef] = []
        having = None
        group_mode = "plain"
        grouping_sets: list[list[FieldRef]] | None = None
        if self.accept_kw("group"):
            self.expect_kw("by")

            def _gitem() -> FieldRef:
                f = self._ordinal_item(fields, "GROUP BY", allow_agg=False)
                if f is not None:
                    return f
                e = self.parse_arith()
                if e.kind != "ref" or e.value.func is not None:
                    raise ValueError(
                        "GROUP BY takes column names, select aliases or ordinals — "
                        "alias an expression in the select list and group by the alias"
                    )
                return e.value

            if self.accept_kw("all"):
                # GROUP BY ALL (DuckDB): every select item without an
                # aggregate or window call, computed items via their AS alias
                group_by = [
                    FieldRef((f.alias,)) if f.expr is not None else FieldRef(f.parts)
                    for f in fields if f.func is None and f.window is None
                    and not (f.expr and any(r.func for r in _expr_refs(f.expr)))
                ]
                if not group_by:
                    raise ValueError("GROUP BY ALL found no non-aggregate select items to group by")
            elif self.peek() in (("kw", "rollup"), ("kw", "cube")):
                _, group_mode = self.next()
                if not self.accept_op("("):
                    raise ValueError(f"{group_mode.upper()} requires (cols)")
                group_by = self._key_list(_gitem, group_mode.upper())
            elif (
                self._peek_name() == "grouping"
                and self.peek2() is not None
                and self.peek2()[0] == "name"
                and self.peek2()[1].lower() == "sets"
            ):
                # GROUP BY GROUPING SETS ((a,b),(a),()) — one Expand pass;
                # 'grouping'/'sets' stay plain names everywhere else
                self.next()
                self.next()
                group_mode = "grouping_sets"
                if not self.accept_op("("):
                    raise ValueError("GROUPING SETS requires ((cols), (cols), ...)")
                grouping_sets = []
                while True:
                    if not self.accept_op("("):
                        raise ValueError(
                            "each grouping set must be a parenthesized (possibly empty) column list"
                        )
                    grouping_sets.append(
                        [] if self.accept_op(")") else self._key_list(_gitem, "grouping-set column")
                    )
                    if not self.accept_op(","):
                        break
                if not self.accept_op(")"):
                    raise ValueError("unbalanced GROUPING SETS list")
                for s in grouping_sets:
                    group_by += [item for item in s if item not in group_by]
                if not group_by:
                    raise ValueError("GROUPING SETS needs at least one non-empty set")
            else:
                group_by = [_gitem()]
                while self.accept_op(","):
                    group_by.append(_gitem())
            if self.accept_kw("having"):
                having = self.parse_or()
        # WINDOW w AS (spec) [, ...] — named windows shared by every
        # OVER w (forward references resolve after the clause parses)
        named: dict[str, WindowSpec] = {}
        if self.accept_kw("window"):
            while True:
                wname = self._name("WINDOW requires: WINDOW name AS (spec)")
                if wname in named:
                    raise ValueError(f"duplicate WINDOW name {wname!r}")
                self.expect_kw("as")
                named[wname] = self.parse_window()
                if not self.accept_op(","):
                    break
        for f in fields:
            w = f.window
            if w is not None and w.pending_name is not None:
                if not named:
                    raise ValueError(f"OVER {w.pending_name} names no WINDOW clause in this query")
                if w.pending_name not in named:
                    raise ValueError(
                        f"OVER {w.pending_name} names no WINDOW clause (declared: {sorted(named)})"
                    )
                f.window = named[w.pending_name]
        # QUALIFY binds per core (like HAVING): it filters the window
        # projection by its select-list output names
        qualify = self.parse_or() if self.accept_kw("qualify") else None
        if star and (group_by or joins):
            raise ValueError("SELECT * supports single-source, non-grouped queries")
        q = BoostQuery(
            fields, domain, family, alias, where, group_by, having, [],
            None, None, joins, star,
        )
        q.distinct = distinct
        q.distinct_on = distinct_on
        q.exclude = exclude
        q.group_mode = group_mode
        q.grouping_sets = grouping_sets
        q.qualify = qualify
        q.pivot = pivot_c
        q.unpivot = unpivot_c
        q.sample = sample_c
        if (pivot_c or unpivot_c) and joins:
            raise ValueError(
                "PIVOT/UNPIVOT on a joined query is not supported — "
                "wrap the reshape in a CTE/derived table and join that"
            )
        if sample_c and joins:
            raise ValueError(
                "TABLESAMPLE on a joined query is not supported — wrap "
                "the sampled scan in a CTE/derived table and join that"
            )
        return q

    def _try_parse_reshape(
        self,
    ) -> "tuple[PivotClause | None, UnpivotClause | None]":
        """Optional PIVOT/UNPIVOT table operator right after the FROM
        anchor. 'pivot'/'unpivot' are contextual names (only recognized
        here, followed by '('), so columns/aliases with those names
        keep parsing."""
        t = self.peek()
        if t[0] != "name" or t[1].lower() not in ("pivot", "unpivot"):
            return None, None
        if self.peek2() != ("op", "("):
            return None, None
        which = self.next()[1].lower()
        if not self.accept_op("("):
            raise ValueError(f"{which.upper()} requires (...)")
        if which == "pivot":
            e = self.parse_operand()
            c = e.value if e.kind == "ref" else None
            if c is None or c.func is None or c.window is not None:
                raise ValueError("PIVOT requires an aggregate: PIVOT (agg(col) FOR key IN (...))")
            if len(c.parts) > 1 or any((
                c.arg_expr, c.arg2_expr, c.filter_expr, c.within_group,
            )):
                raise ValueError("PIVOT aggregate takes one plain column name or *")
            self._expect_name("for", "PIVOT requires FOR <col> IN (...)")
            keycol = self._name("PIVOT FOR takes a plain column name")
            if not self.accept_kw("in"):
                raise ValueError("PIVOT requires FOR <col> IN (...)")
            if not self.accept_op("("):
                raise ValueError("PIVOT IN requires a (literal, ...) list")
            values = self._key_list(self._reshape_lit, "PIVOT IN value")
            if not self.accept_op(")"):
                raise ValueError("unbalanced PIVOT clause parenthesis")
            return PivotClause(c.func, c.parts[0] if c.parts else None, keycol, values), None
        # UNPIVOT (val FOR key IN (c1, c2, ...))
        valcol = self._name("UNPIVOT requires: UNPIVOT (val FOR key IN (col, ...))")
        self._expect_name("for", "UNPIVOT requires FOR <key> IN (col, ...)")
        keycol = self._name("UNPIVOT FOR takes a plain name")
        if not self.accept_kw("in"):
            raise ValueError("UNPIVOT requires FOR <key> IN (col, ...)")
        cols = self._name_list("UNPIVOT IN")
        if not self.accept_op(")"):
            raise ValueError("unbalanced UNPIVOT clause parenthesis")
        return None, UnpivotClause(valcol, keycol, cols)

    def _reshape_lit(self):
        v = self._values_literal("PIVOT IN values")
        if v is None or isinstance(v, bool):
            raise ValueError(f"PIVOT IN list takes string/number literals, got {v!r}")
        return v

    def _try_parse_tablesample(self) -> "SampleClause | None":
        """Optional ``TABLESAMPLE (p PERCENT ON key)`` after the FROM
        anchor (and after any PIVOT/UNPIVOT). 'tablesample' is a
        contextual name — only recognized here, followed by '('."""
        t = self.peek()
        if t[0] != "name" or t[1].lower() != "tablesample":
            return None
        if self.peek2() != ("op", "("):
            return None
        self.next()
        self.accept_op("(")
        kind, v = self.next()
        if kind != "num":
            raise ValueError("TABLESAMPLE requires (p PERCENT ON key)")
        pct = float(v)
        if not 0.0 <= pct <= 100.0:
            raise ValueError(f"TABLESAMPLE percent out of range: {pct}")
        self._expect_name(
            "percent",
            "TABLESAMPLE requires PERCENT (rows-count sampling is not deterministic "
            "under distribution; use LIMIT over an ORDER for top-n)",
        )
        k3, onkw = self.next()
        if (k3, onkw) != ("kw", "on"):
            raise ValueError(
                "TABLESAMPLE requires ON <key column> — the hash key "
                "that makes the sample reproducible (Bernoulli RNG "
                "sampling cannot be certified against an oracle)"
            )
        keycol = self._name("TABLESAMPLE ON takes a plain column name")
        if not self.accept_op(")"):
            raise ValueError("unbalanced TABLESAMPLE clause")
        return SampleClause(pct, keycol)

    def _try_parse_lateral(self) -> "JoinClause | None":
        """``LATERAL fn(expr) alias`` after a JOIN keyword — the
        row-to-rows table-function join (the last declared-intent
        grammar gap: the reference's TiDB parser accepts LATERAL before
        dropping it). 'lateral' is contextual: only recognized right
        after JOIN, so columns/aliases named lateral keep parsing."""
        t = self.peek()
        if not (t[0] == "name" and t[1].lower() == "lateral"):
            return None
        self.next()
        fn = self._name("LATERAL requires a table-function call fn(...)").lower()
        if fn not in _LATERAL_FNS:
            raise ValueError(
                f"unknown table function {fn!r} — dialect LATERAL "
                f"supports {sorted(_LATERAL_FNS)} (arbitrary Python "
                "UDTFs stay on the DataFrame/SQL API)"
            )
        if not self.accept_op("("):
            raise ValueError("LATERAL table function requires (argument)")
        arg = self.parse_arith()
        if not self.accept_op(")"):
            raise ValueError("unbalanced LATERAL argument list")
        alias = self._name("LATERAL table function requires a row alias: JOIN LATERAL fn(arg) t")
        return JoinClause(
            "", fn, alias, "lateral", None, lateral_arg=arg
        )

    def _values_literal(self, what: str = "VALUES cells"):
        """One literal: number (optionally signed), string,
        TRUE/FALSE/NULL."""
        neg = self.accept_op("-")
        kind, v = self.next()
        if kind == "num":
            return -_num(v) if neg else _num(v)
        if not neg and kind == "str":
            return v
        if not neg and kind == "kw" and v in ("true", "false", "null"):
            return None if v == "null" else v == "true"
        raise ValueError(f"{what} are literals (number/string/true/false/null), got {v!r}")

    def _parse_values_table(self) -> tuple[str, str, str | None]:
        """``(VALUES (...), (...)) [AS] t(a, b)`` after the opening
        paren+VALUES have been consumed."""
        rows: list[list] = []
        while True:
            if not self.accept_op("("):
                raise ValueError("VALUES requires parenthesized row tuples")
            row = [self._values_literal()]
            while self.accept_op(","):
                row.append(self._values_literal())
            if not self.accept_op(")"):
                raise ValueError("unbalanced VALUES row tuple")
            rows.append(row)
            if not self.accept_op(","):
                break
        if not self.accept_op(")"):
            raise ValueError("unbalanced (VALUES ...) parenthesis")
        self.accept_kw("as")
        alias = self._name("VALUES requires a table alias: (VALUES ...) t(a, b)")
        if self.peek() != ("op", "("):
            raise ValueError(
                "VALUES requires an explicit column list: (VALUES ...) "
                "t(a, b) — literal rows have no canonical names"
            )
        cols = self._name_list("VALUES")
        bad = [r for r in rows if len(r) != len(cols)]
        if bad:
            raise ValueError(
                f"VALUES row has {len(bad[0])} cells but the column list names {len(cols)}"
            )
        name = f"__dt{self._dt_n}"
        self._dt_n += 1
        self.derived.append((name, ValuesTable(cols, rows)))
        return "", name, alias

    def parse_source(self) -> tuple[str, str, str | None]:
        if self.accept_op("("):
            if self.accept_kw("values"):
                # inline constant table (VALUES (...), (...)) t(a, b)
                return self._parse_values_table()
            # derived table ``( SELECT ... ) alias`` — an anonymous CTE
            body = self.parse_query(sub=True)
            if not self.accept_op(")"):
                raise ValueError("unbalanced derived-table parenthesis")
            if self.peek()[0] != "name":
                raise ValueError("derived table requires an alias: ( SELECT ... ) name")
            alias = self.next()[1]
            name = f"__dt{self._dt_n}"
            self._dt_n += 1
            self.derived.append((name, body))
            return "", name, alias
        src = self._name("expected source name, got {!r}", plain=False)
        parts = src.split(".")
        if len(parts) == 1:
            # a bare name (domain "") must name a CTE; the planner keeps
            # the qualified-source rule (parser.go:36-38) otherwise
            domain, family = "", parts[0]
        elif len(parts) == 2:
            domain, family = parts
        else:
            raise ValueError("FROM requires qualified domain.family")
        alias = None
        if self.peek()[0] == "name" and not (
            self.peek()[1].lower() in ("pivot", "unpivot", "tablesample")
            and self.peek2() == ("op", "(")
        ):
            # 'pivot'/'unpivot'/'tablesample' followed by '(' is a
            # table operator, not a source alias (contextual, like
            # LATERAL)
            alias = self.next()[1]
        return domain, family, alias

    def parse_select_item(self) -> FieldRef:
        """A select-list item: a sugared ref, an aggregate or window
        call, or a computed expression over refs, calls and literals —
        the projection the reference rejects outright
        (selectfieldparser.go:90-99). Computed items and calls with no
        canonical sugar name require AS."""
        e = self.parse_arith()
        alias = self._name("expected alias after AS", plain=False) if self.accept_kw("as") else None
        if e.kind == "ref":
            f = e.value
            f.alias = alias
            if alias is None and any((f.arg_expr, f.arg2_expr, f.filter_expr, f.within_group)):
                raise ValueError(
                    f"{f.func}(...) requires AS <name> (no canonical sugar name for this call)"
                )
            return f
        if alias is None:
            raise ValueError(
                "computed select expressions require AS <name> "
                "(there is no canonical sugar name for them)"
            )
        return FieldRef((), alias=alias, expr=e)

    def _sort_keys(self) -> list[tuple[FieldRef, bool]]:
        """``ref [ASC|DESC] {, ref [ASC|DESC]}`` -> [(ref, desc)]."""
        keys = []
        while True:
            r = self.parse_plain_ref()
            d = self.accept_kw("desc")
            if not d:
                self.accept_kw("asc")
            keys.append((r, d))
            if not self.accept_op(","):
                return keys

    def parse_call(self, name: str) -> Expr:
        """``name(args)`` and the modifiers its :data:`_FUNCS` row admits
        — the one grammar of a call in every position. A scalar call is
        ``Expr('fn')`` (CAST ``Expr('cast')``); an aggregate or window
        call is a ref to a :class:`FieldRef` with ``func`` set."""
        func = _FN_NAMES.get(name.lower())
        if func is None:
            raise ValueError(f"unknown function {name}()")
        fn = _FUNCS[func]
        self.next()  # '('

        def close() -> None:
            if not self.accept_op(")"):
                raise ValueError(f"unbalanced parenthesis in {func}(...)")

        if fn.form == "cast":  # CAST(expr AS type), whitelisted targets
            inner = self.parse_arith()
            if self.next() != ("kw", "as"):
                raise ValueError("CAST requires 'AS <type>'")
            k3, ty = self.name_next()
            if k3 != "name" or ty.lower() not in _CAST_TYPES:
                raise ValueError(f"unsupported CAST target {ty!r}; one of {sorted(_CAST_TYPES)}")
            close()
            return Expr("cast", op=_CAST_TYPES[ty.lower()], children=[inner])
        if fn.form == "extract":  # EXTRACT(part FROM expr): the date-part call
            ku, unit = self.name_next()
            if ku != "name" or not getattr(_FUNCS.get(unit.lower()), "part", False):
                parts = "/".join(n for n, f in _FUNCS.items() if f.part)
                raise ValueError(f"EXTRACT unit must be one of {parts}, got {unit!r}")
            if self.next() != ("kw", "from"):
                raise ValueError("EXTRACT requires 'unit FROM expr'")
            inner = self.parse_arith()
            close()
            return Expr("fn", op=unit.lower(), children=[inner])
        distinct = self.accept_kw("distinct")
        if distinct and fn.distinct is None:
            raise ValueError(f"{func}() does not take DISTINCT")
        args: list[Expr] = []
        star = self.accept_op("*")
        if star and (distinct or not fn.star):
            stars = "/".join(f"{n}(*)" for n, f in _FUNCS.items() if f.star)
            raise ValueError(f"{func}({'DISTINCT ' * distinct}*) is not valid; only {stars}")
        if not star and self.peek() != ("op", ")"):
            arg = self.parse_or if fn.pred else self.parse_arith
            args.append(arg())
            while self.accept_op(","):
                args.append(arg())
        close()
        n = len(args) + star
        if n < fn.lo or (fn.hi is not None and n > fn.hi):
            want = (
                f"{('no', 'one', 'two', 'three')[fn.lo]} argument{'s' * (fn.lo != 1)}"
                if fn.lo == fn.hi else f"{fn.lo} to {fn.hi or 'n'} arguments"
            )
            raise ValueError(f"{func}() takes {want}, got {n}")
        within = None
        if self.accept_kw("within"):
            if not fn.within:
                raise ValueError(f"{func} does not take WITHIN GROUP")
            self.expect_kw("group")
            if not self.accept_op("("):
                raise ValueError("WITHIN GROUP requires (ORDER BY ...)")
            self.expect_kw("order")
            self.expect_kw("by")
            within = self._sort_keys()
            if not self.accept_op(")"):
                raise ValueError("unbalanced WITHIN GROUP (ORDER BY ...)")
            if fn.within == 1 and len(within) > 1:
                raise ValueError(
                    f"{func} takes exactly one WITHIN GROUP sort key (ANSI "
                    "inverse-distribution aggregates are single-keyed)"
                )
        elif fn.within:
            raise ValueError(
                f"{func} requires WITHIN GROUP (ORDER BY ...) — an ordered-set "
                "aggregate has no deterministic meaning without an ordering"
            )
        ignore_nulls = False
        if self.peek() in (("kw", "ignore"), ("kw", "respect")):
            mode = self.next()[1]
            self.expect_kw("nulls")
            if not fn.nulls:
                names = "/".join(n for n, f in _FUNCS.items() if f.nulls)
                raise ValueError(
                    f"{mode.upper()} NULLS is supported on {names} only (Spark "
                    f"exposes no null treatment on {func})"
                )
            ignore_nulls = mode == "ignore"
        filter_expr = None
        if self.accept_kw("filter"):  # ANSI aggregate FILTER (WHERE pred)
            if not fn.filter:
                raise ValueError(f"{func} does not take FILTER (WHERE ...)")
            if not self.accept_op("("):
                raise ValueError("FILTER requires (WHERE <predicate>)")
            self.expect_kw("where")
            filter_expr = self.parse_or()
            if not self.accept_op(")"):
                raise ValueError("unbalanced FILTER (WHERE ...) clause")
        window = None
        if self.accept_kw("over"):
            if fn.over == "forbidden":
                what = "grouped aggregate" if fn.kind == "agg" else "scalar function"
                raise ValueError(f"{func} is a {what} in this dialect, not a window function")
            if filter_expr is not None:
                raise ValueError("FILTER is supported on plain aggregates, not on window functions")
            if self.peek()[0] in ("name", "kw") and self.peek() != ("op", "("):
                # OVER w — a named WINDOW clause declared later
                window = WindowSpec(pending_name=self._name(
                    "OVER takes a (spec) or a window name, got {!r}", plain=False
                ))
            else:
                window = self.parse_window()
        elif fn.over == "required":
            raise ValueError(f"{func}() requires an OVER (...) clause")
        if fn.kind == "scalar":
            e = Expr("fn", op=func, children=args)
            if fn.check:
                fn.check(e)
            return e
        if any(r.func for a in (*args, filter_expr) if a is not None for r in _expr_refs(a)):
            raise ValueError("nested aggregate calls are not supported")
        first = args[0] if args else None
        plain = first is not None and first.kind == "ref"
        c = FieldRef(
            first.value.parts if plain else (), None,
            f"{func}_distinct" if distinct else func, window,
            arg_expr=None if plain else first,
            arg2_expr=args[1] if len(args) > 1 else None,
            filter_expr=filter_expr, ignore_nulls=ignore_nulls, within_group=within,
        )
        if fn.check:
            fn.check(c)
        return Expr("ref", value=c)

    def parse_window(self) -> WindowSpec:
        if not self.accept_op("("):
            raise ValueError("OVER requires a parenthesized window spec")
        spec = WindowSpec()
        if self.accept_kw("partition"):
            self.expect_kw("by")
            spec.partition_by.append(self.parse_plain_ref())
            while self.accept_op(","):
                spec.partition_by.append(self.parse_plain_ref())
        if self.accept_kw("order"):
            self.expect_kw("by")
            spec.order_by = self._sort_keys()
        # ROWS counts rows; RANGE BETWEEN INTERVAL '<n>' <unit> bounds are
        # ns deltas on the one time column (bare numeric RANGE offsets are
        # refused: their unit would depend on the column's representation);
        # GROUPS counts peer groups (distinct ORDER BY values)
        frame_type = next(
            (k for k in ("rows", "range", "groups") if self.accept_kw(k)), None
        )
        if frame_type is not None:
            self.expect_kw("between")
            bound = self.parse_range_bound if frame_type == "range" else self.parse_frame_bound
            lo = bound()
            self.expect_kw("and")
            spec.frame = (lo, bound())
            spec.frame_type = "range_ns" if frame_type == "range" else frame_type
        if spec.frame is not None and self.accept_kw("exclude"):
            # ANSI frame exclusion; EXCLUDE NO OTHERS is the None default
            if self.accept_kw("current"):
                self.expect_kw("row")
                spec.exclude = "current"
            elif self.accept_kw("group"):
                spec.exclude = "group"
            else:
                kind, v = self.name_next()
                word = v.lower() if kind == "name" else ""
                if word == "ties":
                    spec.exclude = "ties"
                elif word == "no":
                    self._expect_name("others", "expected OTHERS after EXCLUDE NO, got {!r}")
                else:
                    raise ValueError("EXCLUDE takes CURRENT ROW, GROUP, TIES, or NO OTHERS")
        if not self.accept_op(")"):
            raise ValueError("unbalanced parenthesis in OVER (...)")
        return spec

    #: ns per RANGE-frame INTERVAL unit (singular or plural spelling)
    _INTERVAL_NS = {
        "second": 1_000_000_000,
        "minute": 60_000_000_000,
        "hour": 3_600_000_000_000,
        "day": 86_400_000_000_000,
    }

    def parse_range_bound(self) -> int:
        """A RANGE bound: UNBOUNDED / CURRENT ROW, or INTERVAL '<n>'
        <unit> PRECEDING|FOLLOWING as a signed ns delta."""
        if self.peek() in (("kw", "unbounded"), ("kw", "current")):
            return self.parse_frame_bound()
        kind, v = self.next()
        if kind != "name" or v.lower() != "interval":
            raise ValueError(
                "RANGE frame bounds take INTERVAL '<n>' <unit> (or "
                f"UNBOUNDED/CURRENT ROW), got {v!r}"
            )
        k2, num = self.next()
        if k2 not in ("str", "num") or not str(num).isdigit():
            raise ValueError(f"INTERVAL takes a whole-number literal, got {num!r}")
        k3, unit = self.name_next()
        u = unit.lower().rstrip("s") if k3 == "name" else ""
        if u not in self._INTERVAL_NS:
            raise ValueError(
                f"INTERVAL unit must be one of {sorted(self._INTERVAL_NS)} (got {unit!r})"
            )
        ns = int(num) * self._INTERVAL_NS[u]
        if self.accept_kw("preceding"):
            return -ns
        self.expect_kw("following")
        return ns

    def parse_frame_bound(self) -> int:
        UNB = (1 << 63) - 1  # Spark's unboundedPreceding/Following magnitude
        if self.accept_kw("unbounded"):
            if self.accept_kw("preceding"):
                return -UNB
            self.expect_kw("following")
            return UNB
        if self.accept_kw("current"):
            self.expect_kw("row")
            return 0
        kind, v = self.next()
        if kind != "num":
            raise ValueError(f"expected frame offset, got {v!r}")
        n = int(v)
        if self.accept_kw("preceding"):
            return -n
        self.expect_kw("following")
        return n

    def parse_plain_ref(self) -> FieldRef:
        kind, v = self.name_next()
        if kind != "name":
            raise ValueError(f"expected column reference, got {v!r}")
        return FieldRef(tuple(v.split(".")))

    # WHERE grammar (whereparser.go:132-290 + the declared-absent ops)
    def parse_or(self) -> Expr:
        left = self.parse_and()
        while self.accept_kw("or"):
            right = self.parse_and()
            left = Expr("or", children=[left, right])
        return left

    def parse_and(self) -> Expr:
        left = self.parse_not()
        while self.accept_kw("and"):
            right = self.parse_not()
            left = Expr("and", children=[left, right])
        return left

    def parse_not(self) -> Expr:
        if self.accept_kw("not"):
            return Expr("not", children=[self.parse_not()])
        return self.parse_predicate()

    def parse_predicate(self) -> Expr:
        if self.peek() == ("kw", "exists"):
            # [NOT] EXISTS (SELECT ...) — planned as a decorrelated
            # semi/anti join (NOT comes in via parse_not)
            self.next()
            if not self.accept_op("("):
                raise ValueError("EXISTS requires (SELECT ...)")
            if self.peek() != ("kw", "select"):
                raise ValueError("EXISTS requires a subquery")
            subq = self.parse_query(sub=True)
            if not self.accept_op(")"):
                raise ValueError("unbalanced subquery parenthesis")
            return Expr("exists", children=[Expr("subquery", value=subq)])
        if self.peek() == ("op", "(") and self.peek2() != ("kw", "select"):
            self.next()
            e = self.parse_or()
            if not self.accept_op(")"):
                raise ValueError("unbalanced parenthesis")
            # '(' is boolean or arithmetic grouping: an operator after
            # it continues the arithmetic and optional comparison
            t = self.peek()
            if t[0] == "op" and t[1] in (
                "*", "/", "+", "-", "=", "!=", "<>", "<", "<=", ">", ">=",
            ):
                return self.parse_predicate_from(e)
            return e
        operand = self.parse_arith()
        t = self.peek()
        if t[0] == "op" and t[1] in ("=", "!=", "<>", "<", "<=", ">", ">="):
            self.next()
            op = "!=" if t[1] == "<>" else t[1]
            return Expr("cmp", op=op, children=[operand, self.parse_arith()])
        if t == ("kw", "is"):
            self.next()
            neg = self.accept_kw("not")
            self.expect_kw("null")
            e = Expr("isnull", children=[operand])
            return Expr("not", children=[e]) if neg else e
        negated = False
        if t == ("kw", "not"):
            self.next()
            negated = True
            t = self.peek()
        if t == ("kw", "in"):
            self.next()
            if not self.accept_op("("):
                raise ValueError("IN requires a list")
            if self.peek() == ("kw", "select"):
                # IN (SELECT ...) — declared but never planned by the
                # reference (query/base/expression.go:16-18)
                subq = self.parse_query(sub=True)
                if not self.accept_op(")"):
                    raise ValueError("unbalanced subquery parenthesis")
                e = Expr("in", children=[operand, Expr("subquery", value=subq)])
            else:
                items = [self.parse_operand()]
                while self.accept_op(","):
                    items.append(self.parse_operand())
                if not self.accept_op(")"):
                    raise ValueError("unbalanced IN list")
                e = Expr("in", children=[operand, *items])
        elif t == ("kw", "between"):
            self.next()
            lo = self.parse_operand()
            self.expect_kw("and")
            hi = self.parse_operand()
            e = Expr("between", children=[operand, lo, hi])
        elif t == ("kw", "like"):
            self.next()
            pat = self.parse_operand()
            e = Expr("like", children=[operand, pat])
        elif t[0] == "name" and t[1].lower() == "ilike":
            # case-insensitive LIKE; 'ilike' is contextual (operator
            # position only)
            self.next()
            pat = self.parse_operand()
            e = Expr("ilike", children=[operand, pat])
        else:
            # bare boolean operand
            e = operand
        return Expr("not", children=[e]) if negated else e

    def parse_case(self) -> Expr:
        """CASE, searched (``CASE WHEN <bool> THEN ...``) or simple
        (``CASE <expr> WHEN <val> THEN ...``), usable anywhere an operand
        is. Children: the simple form's subject, then (cond, value)
        pairs; an odd tail is the ELSE."""
        self.expect_kw("case")
        children: list[Expr] = []
        form = "searched"
        if self.peek() != ("kw", "when"):
            form = "simple"
            children.append(self.parse_arith())
        if self.peek() != ("kw", "when"):
            raise ValueError("CASE requires at least one WHEN branch")
        while self.accept_kw("when"):
            cond = self.parse_or() if form == "searched" else self.parse_arith()
            self.expect_kw("then")
            children.append(cond)
            children.append(self.parse_arith())
        if self.accept_kw("else"):
            children.append(self.parse_arith())
        self.expect_kw("end")
        return Expr("case", op=form, children=children)

    def parse_predicate_from(self, left: Expr) -> Expr:
        """Continue term -> arith -> optional comparison from an
        already-parsed left operand (the parenthesized-arithmetic
        case)."""
        while self.peek()[0] == "op" and self.peek()[1] in ("*", "/", "%"):
            _, op = self.next()
            left = Expr("arith", op=op, children=[left, self.parse_operand()])
        while self.peek()[0] == "op" and self.peek()[1] in ("+", "-"):
            _, op = self.next()
            left = Expr("arith", op=op, children=[left, self.parse_term()])
        t = self.peek()
        if t[0] == "op" and t[1] in ("=", "!=", "<>", "<", "<=", ">", ">="):
            self.next()
            op = "!=" if t[1] == "<>" else t[1]
            return Expr("cmp", op=op, children=[left, self.parse_arith()])
        return left

    # expr := term (('+'|'-') term)*, term := factor (('*'|'/'|'%') factor)*
    # — computed expressions the reference rejects (selectfieldparser.go:90-99)
    def parse_arith(self) -> Expr:
        left = self.parse_term()
        while self.peek()[0] == "op" and self.peek()[1] in ("+", "-"):
            _, op = self.next()
            left = Expr("arith", op=op, children=[left, self.parse_term()])
        return left

    def parse_term(self) -> Expr:
        left = self.parse_operand()
        while self.peek()[0] == "op" and self.peek()[1] in ("*", "/", "%"):
            _, op = self.next()
            left = Expr("arith", op=op, children=[left, self.parse_operand()])
        return left

    def parse_operand(self) -> Expr:
        if self.peek() == ("kw", "case"):
            return self.parse_case()
        if self.peek() == ("op", "("):
            self.next()
            # scalar subquery operand (SELECT agg(...) FROM ...) or a
            # parenthesized arithmetic expression
            if self.peek() == ("kw", "select"):
                e = Expr("subquery", value=self.parse_query(sub=True))
            else:
                e = self.parse_arith()
            if not self.accept_op(")"):
                raise ValueError(
                    "unbalanced subquery parenthesis" if e.kind == "subquery"
                    else "unbalanced parenthesis in expression"
                )
            return e
        kind, v = self.name_next()
        if kind == "param":
            # named-placeholder literal (query/base/literalintexpression.go:
            # 9-113): bound from the params dict at plan time, so one
            # parsed query re-executes with new bindings
            return Expr("param", value=v)
        if kind == "op" and v == "-":  # unary minus on a numeric literal
            k2, v2 = self.next()
            if k2 != "num":
                raise ValueError(f"expected number after '-', got {v2!r}")
            return Expr("lit", value=-_num(v2))
        if kind == "num":
            return Expr("lit", value=_num(v))
        if kind == "str":
            return Expr("lit", value=v)
        if kind == "kw" and v in ("true", "false", "null"):
            return Expr("lit", value={"true": True, "false": False}.get(v))
        if kind != "name":
            raise ValueError(f"unexpected operand {v!r}")
        if self.peek() != ("op", "("):
            return Expr("ref", value=FieldRef(tuple(v.split("."))))
        return self.parse_call(v)


def parse(sql: str) -> BoostQuery:
    """Parse boost-dialect SQL into a :class:`BoostQuery` (single
    statement only, as in parser.go:36-38)."""
    return _Parser(_tokenize(sql)).parse_query()


# --------------------------------------------------------------------------
# Planner: BoostQuery -> one Spark SQL statement (planner.go:115-243
# collapsed into Catalyst — fetch nodes become a filtered source frame,
# everything else is SQL that Spark resolves and optimizes)
# --------------------------------------------------------------------------


def _order_sql(target: str, desc: bool, nulls: str | None) -> str:
    """Sort key with explicit NULLS FIRST/LAST. Spark's bare ASC/DESC
    ties the null position to the direction (ASC→first, DESC→last);
    an explicit NULLS clause overrides it, matching ANSI engines."""
    s = f"{target} {'DESC' if desc else 'ASC'}"
    return f"{s} NULLS {nulls.upper()}" if nulls else s


def _tail_sql(order: list[str], limit, offset) -> str:
    return (
        (f" ORDER BY {', '.join(order)}" if order else "")
        + (f" LIMIT {limit}" if limit is not None else "")
        + (f" OFFSET {offset}" if offset is not None else "")
    )


def _frame_sql(kind: str, lo: int, hi: int) -> str:
    """ROWS/RANGE frame; the parser's +/-(2^63-1) UNBOUNDED sentinels
    map to UNBOUNDED, RANGE offsets are BIGINT like rangeBetween's."""
    unb = (1 << 63) - 1
    sfx = "L" if kind == "RANGE" else ""

    def b(v: int) -> str:
        if v <= -unb:
            return "UNBOUNDED PRECEDING"
        if v >= unb:
            return "UNBOUNDED FOLLOWING"
        if v == 0:
            return "CURRENT ROW"
        return f"{abs(v)}{sfx} {'PRECEDING' if v < 0 else 'FOLLOWING'}"

    return f"{kind} BETWEEN {b(lo)} AND {b(hi)}"


@dataclass
class _Src:
    """One FROM/JOIN source of a query level. ``sql`` is its FROM item:
    a slot (a family's SQL text or a frame) or a CTE body. Its columns
    are spelled ``qual.prefix+col`` (an as-of pair shares one frame and
    prefixes each side's columns with its source key)."""

    kind: str  # 'family' | 'table' | 'lateral'
    cols: list
    binding: SeriesFamilyBinding | None = None
    sql: str = ""
    dtypes: dict = field(default_factory=dict)
    series: set = field(default_factory=set)
    qual: str = ""
    prefix: str = ""
    cte: str | None = None  # the text CTE it reads


class _Resolver:
    """Resolves sugared names for one query level and collects the
    series each family source must fetch (each series the reference
    would plan a FetchSeries node for, planner.go:149-157). A
    single-source level resolves alias-stripped names to bare columns;
    a joined level requires source-qualified names and resolves to
    ``src.col``. Names resolved after :attr:`frozen` is set (HAVING,
    ORDER BY) fetch no further series."""

    def __init__(self, q: BoostQuery, binding, srcs: dict | None = None):
        self.q = q
        self.joined = bool(q.joins)
        self.frozen = False
        self.srcs: dict[str, _Src] = srcs if srcs is not None else {
            q.source_alias or q.family: _Src("family", [], binding)
        }

    def single(self) -> _Src:
        return next(iter(self.srcs.values()))

    def _qual(self, src: _Src, col: str) -> str:
        return f"{_ident(src.qual)}.{_ident(src.prefix + col)}"

    def _family(self, src: _Src, parts, ref: FieldRef) -> tuple[str, str]:
        b = src.binding
        if len(parts) == 1:
            series, col = parts[0], b.value_col  # value sugar
        elif len(parts) == 2:
            series, col = parts[0], (b.value_col if parts[1] == "value" else parts[1])
        else:
            raise ValueError(f"cannot resolve field {'.'.join(ref.parts)}")
        if src.cols and col not in src.cols:
            # Spark would resolve an unknown inner name of a subquery
            # against the outer query: refuse it here instead
            raise ValueError(
                f"{'.'.join(ref.parts)}: {b.view!r} has no column {col!r} "
                f"(columns: {sorted(src.cols)})"
            )
        if not self.frozen:
            src.series.add(series)
        return series, col

    def _cte_col(self, key: str, src: _Src, col: str) -> str:
        if col not in src.cols:
            raise ValueError(
                f"{key}.{col}: WITH source {key!r} has no column {col!r} (columns: {src.cols})"
            )
        return col

    def locate(self, ref: FieldRef) -> tuple[_Src, str | None, str]:
        """-> (source, series, physical column)."""
        parts = ref.parts
        if not self.joined:
            src = self.single()
            if self.q.source_alias and len(parts) > 1 and parts[0] == self.q.source_alias:
                parts = parts[1:]
            if src.kind == "table":
                if len(parts) == 1 and parts[0] in src.cols:
                    return src, None, parts[0]
                raise ValueError(
                    f"{'.'.join(ref.parts)} is not a column of WITH source "
                    f"{self.q.family!r} (columns: {sorted(src.cols)})"
                )
            return (src, *self._family(src, parts, ref))
        if len(parts) < 2 or parts[0] not in self.srcs:
            raise ValueError(f"field {'.'.join(parts)} must be source-qualified in a join query")
        src, rest = self.srcs[parts[0]], parts[1:]
        if src.kind == "lateral":  # table-function output columns
            if len(rest) != 1 or rest[0] not in src.cols:
                raise ValueError(
                    f"{'.'.join(parts)}: LATERAL source {parts[0]!r} has columns {list(src.cols)}"
                )
            return src, None, rest[0]
        if src.kind == "table":  # plain-column semantics, no sugar
            if len(rest) != 1:
                raise ValueError(f"{'.'.join(parts)}: WITH sources take alias.column refs")
            return src, None, self._cte_col(parts[0], src, rest[0])
        return (src, *self._family(src, rest, ref))

    def resolve(self, ref: FieldRef) -> tuple[str | None, str]:
        """-> (series, column key): the bare column on a single-source
        level, the SQL ``src.col`` on a joined one."""
        src, series, col = self.locate(ref)
        return series, (self._qual(src, col) if self.joined else col)

    def sql(self, key: str) -> str:
        return key if self.joined else _ident(key)

    def ref_sql(self, ref: FieldRef) -> str:
        return self.sql(self.resolve(ref)[1])

    def outer_sql(self, ref: FieldRef) -> str:
        """A ref qualified for use inside a correlated subquery."""
        src, _, col = self.locate(ref)
        return self._qual(src, col)

    def on_col(self, ref: FieldRef) -> tuple[_Src, str]:
        """ON refs are plain ``source.column`` (the reference's JoinInfo
        LeftSource/LeftColumn shape) — no series implied."""
        if len(ref.parts) != 2 or ref.parts[0] not in self.srcs:
            raise ValueError(f"ON ref {'.'.join(ref.parts)} must be source.column")
        key, col = ref.parts
        src = self.srcs[key]
        if src.kind == "lateral":
            if col not in src.cols:
                raise ValueError(
                    f"LATERAL source {key!r} has columns {list(src.cols)}, not {col!r}"
                )
        elif src.kind == "table":
            col = self._cte_col(key, src, col)
        elif col == "value":
            col = src.binding.value_col
        return src, col

    def resolve_on(self, ref: FieldRef) -> str:
        return self._qual(*self.on_col(ref))

    def default_name(self, ref: FieldRef) -> str:
        if ref.alias:
            return ref.alias
        if ref.func is not None and not ref.parts:
            return ref.func  # count(*)
        parts = ref.parts
        if not self.joined:
            if self.q.source_alias and len(parts) > 1 and parts[0] == self.q.source_alias:
                parts = parts[1:]
            family = self.single().kind == "family"
            base = parts[-1] if len(parts) > 1 or not family else self.single().binding.value_col
        else:
            src = self.srcs.get(parts[0])
            family = src is not None and src.kind == "family"
            base = src.binding.value_col if family and len(parts) == 2 else parts[-1]
        return f"{ref.func}_{base}" if ref.func else base


def _expr_refs(e: Expr):
    """All FieldRefs in an expression tree (pre-order). Subquery nodes
    are NOT descended into — their refs resolve against the subquery's
    own resolver when the subquery is planned."""
    if e.kind == "ref":
        yield e.value
    for c in e.children:
        yield from _expr_refs(c)


def _reads(f: FieldRef):
    """The column refs a select item reads, through the calls in it:
    its plain column and the refs of its expression, arguments, FILTER
    and WITHIN GROUP keys (window specs aside)."""
    if f.parts:
        yield f
    for e in (f.expr, f.arg_expr, f.arg2_expr, f.filter_expr):
        for r in _expr_refs(e) if e is not None else ():
            yield from _reads(r)
    for r, _ in f.within_group or ():
        yield r


def _has_subquery(e: Expr) -> bool:
    return e.kind == "subquery" or any(_has_subquery(c) for c in e.children)


def _conjuncts(e: Expr) -> list[Expr]:
    """Flatten top-level ANDs: a AND (b AND c) -> [a, b, c]."""
    if e.kind == "and":
        return _conjuncts(e.children[0]) + _conjuncts(e.children[1])
    return [e]


def _param_value(name: str, params: dict | None):
    if params is None or name not in params:
        raise ValueError(f"unbound placeholder :{name} — pass params={{{name!r}: ...}}")
    return params[name]


_CMP_SQL = {"=": "=", "!=": "!=", "<": "<", "<=": "<=", ">": ">", ">=": ">="}


def _compile_expr(e: Expr, res: _Resolver, name_of=None, params: dict | None = None,
                  em: "_Emitter | None" = None) -> str:
    """SQL text of a dialect expression. ``name_of`` maps refs in a
    post-projection scope (HAVING, QUALIFY, ORDER BY expressions);
    ``em`` admits subqueries (WHERE conjuncts, plain projections).
    Placeholders stay ``:name`` markers — values bind through
    ``spark.sql(args=...)``, never as SQL text."""

    def c(x: Expr) -> str:
        return _compile_expr(x, res, name_of, params, em)

    k = e.kind
    if k in ("fn", "cast"):
        return _call_sql(e.op if k == "fn" else k, [c(a) for a in e.children], e)
    if k == "exists":
        if em is None:
            raise ValueError("EXISTS is supported as a top-level AND conjunct of WHERE only")
        return em.exists(e.children[0].value, res, id(e) in em.null_free)
    if k == "subquery":
        if em is None:
            raise ValueError(
                "subqueries are supported as top-level AND conjuncts of WHERE "
                "only: x IN (SELECT ...) or a comparison against a scalar "
                "aggregate subquery"
            )
        return em.scalar(e.value)
    if k == "lit":
        return _lit(e.value)
    if k == "param":
        _param_value(e.value, params)
        return f":{e.value}"
    if k == "ref":
        if name_of is not None:
            return name_of(e.value)
        if e.value.func is not None:
            raise ValueError(
                f"{e.value.func}() is an aggregate or window call outside an "
                "aggregation scope (the select list, HAVING or ORDER BY)"
            )
        return res.ref_sql(e.value)
    if k == "arith":
        # %: both Spark and DuckDB implement remainder-with-dividend-sign
        return f"({c(e.children[0])} {e.op} {c(e.children[1])})"
    if k == "case":
        ch = list(e.children)
        subj = c(ch.pop(0)) if e.op == "simple" else None
        other = c(ch.pop()) if len(ch) % 2 == 1 else None
        whens = "".join(
            f" WHEN {c(ch[i]) if subj is None else f'({subj} = {c(ch[i])})'}"
            f" THEN {c(ch[i + 1])}"
            for i in range(0, len(ch), 2)
        )
        return f"CASE{whens}{f' ELSE {other}' if other is not None else ''} END"
    if k == "cmp":
        return f"({c(e.children[0])} {_CMP_SQL[e.op]} {c(e.children[1])})"
    if k in ("and", "or"):
        return f"({c(e.children[0])} {k.upper()} {c(e.children[1])})"
    if k == "not":
        return f"(NOT {c(e.children[0])})"
    if k == "isnull":
        return f"({c(e.children[0])} IS NULL)"
    if k == "in":
        lhs, items = c(e.children[0]), e.children[1:]
        if len(items) == 1 and items[0].kind == "subquery":
            if em is None:
                c(items[0])  # raises the subquery-placement error
            return em.in_sub(lhs, items[0].value, id(e) in em.null_free)
        return f"({lhs} IN ({', '.join(c(i) for i in items)}))"
    if k == "between":
        a, lo, hi = (c(x) for x in e.children)
        return f"(({a} >= {lo}) AND ({a} <= {hi}))"
    if k in ("like", "ilike"):
        return f"({c(e.children[0])} {k.upper()} {c(e.children[1])})"
    raise ValueError(f"unknown expr kind {k}")


def _split_exists(q: BoostQuery, sq: BoostQuery):
    """Split an EXISTS subquery's WHERE into correlated equalities
    (join keys) and inner-only conjuncts. Correlation refs must be
    qualified with the OUTER source alias; anything else inside the
    subquery resolves against the subquery's own binding."""
    outer_alias = q.source_alias
    if outer_alias is None:
        raise ValueError(
            "EXISTS requires the outer source to carry an alias "
            "(FROM domain.family a) so correlated refs are explicit"
        )
    if sq.group_by or sq.set_ops or sq.joins:
        raise ValueError("EXISTS subquery must be a plain single-source SELECT")
    if sq.source_alias == outer_alias:
        # an inner alias shadowing the outer one would make every
        # inner-qualified ref parse as a correlated outer ref — wrong
        # join keys, not an error, so refuse loudly
        raise ValueError(
            f"EXISTS subquery alias {outer_alias!r} shadows the "
            "outer source alias — rename one of them"
        )
    pairs: list[tuple[FieldRef, FieldRef]] = []
    inner: list[Expr] = []
    for cj in _conjuncts(sq.where) if sq.where is not None else []:
        if cj.kind == "cmp" and cj.op == "=":
            outs = [
                s for s in cj.children
                if s.kind == "ref" and s.value.parts and s.value.parts[0] == outer_alias
            ]
            ins = [s for s in cj.children if s not in outs]
            if len(outs) == 1 and len(ins) == 1 and ins[0].kind == "ref":
                pairs.append((FieldRef(outs[0].value.parts), ins[0].value))
                continue
        inner.append(cj)
    if not pairs:
        raise ValueError(
            "EXISTS subquery requires at least one correlated "
            f"equality {outer_alias}.<field> = <inner field>"
        )
    for cj in inner:
        for r in _expr_refs(cj):
            if r.parts and r.parts[0] == outer_alias:
                raise ValueError(
                    "correlated refs in EXISTS are supported in top-level equality conjuncts only"
                )
    return pairs, inner


#: hard cap on recursive-CTE fixpoint iterations: the count is the
#: DATA's recursion depth, never its row count, so a query still
#: expanding after this many steps is almost certainly a divergent
#: UNION ALL recursion over a cyclic graph; refuse loudly.
RECURSIVE_CTE_MAX_ITERS = 64

#: fixpoint accumulator re-materialization cadence: between rebuilds
#: the seen-set is one checkpointed base plus at most CADENCE-1
#: checkpointed delta leaves
RECURSIVE_ACC_CADENCE = 8


def _plan_recursive_cte(
    spark: SparkSession,
    name: str,
    body: "BoostQuery",
    binding,
    start,
    end,
    params: dict | None,
    ctes: dict[str, DataFrame],
) -> DataFrame:
    """Bounded-iteration distributed fixpoint for ``WITH RECURSIVE
    name AS (base UNION [ALL] rec)`` — Spark SQL lacks UNION-distinct
    recursion. Each term plans through :func:`plan` with the in-scope
    CTEs and the working table as frame sources.

    Semi-naive: the self-reference binds to the PREVIOUS iteration's
    DELTA (DuckDB/postgres semantics); for UNION the delta is the step
    minus everything accumulated, so closures over cyclic graphs
    terminate; UNION ALL stops only on an empty step (the iteration cap
    backstops divergence). The accumulator and delta LOCALCHECKPOINT
    each step so plans stay constant-size; the driver's only per-step
    traffic is one isEmpty probe.

    In-scope CTEs are evaluated once, as SQL evaluates a CTE: body-level
    CTEs plan first, then every in-scope CTE frame the recursive term
    reads is localCheckpointed before the loop, so no step re-runs its
    source. Frames only the base term reads stay lazy: it runs once."""
    op, rec = body.set_ops[0]
    local = dict(ctes)
    # body-level derived tables / nested CTEs plan once, up front
    for nm, b in body.ctes:
        if nm in local:
            raise ValueError(f"duplicate WITH name {nm!r}")
        local[nm] = plan(spark, b, binding, start, end, params, _ctes=local)
    for nm, df in local.items():
        if _total_cte_refs(rec, nm) > 0:
            local[nm] = df.localCheckpoint()
    base_q = dataclasses.replace(
        body, set_ops=[], ctes=[], recursive=False
    )
    acc = plan(spark, base_q, binding, start, end, params, _ctes=local)
    if op == "union":
        acc = acc.distinct()
    acc = acc.localCheckpoint()
    # Semi-naive accumulator with a CHECKPOINT CADENCE (measured at
    # sf0.1): re-materializing acc every step costs O(depth x rows)
    # rewrite I/O; a fully lazy union of deltas makes the subtract's
    # plan O(depth) wide (1.8x slower). acc re-materializes every
    # _ACC_CADENCE steps, so plan width stays O(1) between rebuilds.
    _ACC_CADENCE = RECURSIVE_ACC_CADENCE
    pending: list[DataFrame] = []

    def _seen() -> DataFrame:
        out = acc
        for p in pending:
            out = out.unionByName(p)
        return out

    delta = acc
    for _ in range(RECURSIVE_CTE_MAX_ITERS):
        local[name] = delta
        step = plan(spark, rec, binding, start, end, params, _ctes=local)
        # set-op semantics: align the recursive term by POSITION to the
        # base term's column names (same rule as the set-op planner)
        step = step.toDF(*acc.columns)
        if op == "union":
            # subtract IS "EXCEPT DISTINCT": it dedups its left side,
            # so the step needs no separate distinct() pass (the r10
            # shape paid that extra full shuffle every iteration)
            delta = step.subtract(_seen()).localCheckpoint()
        else:
            delta = step.localCheckpoint()
        if delta.isEmpty():
            return _seen()
        pending.append(delta)
        if len(pending) >= _ACC_CADENCE:
            acc = _seen().localCheckpoint()
            pending = []
    raise ValueError(
        f"WITH RECURSIVE {name!r} did not reach a fixpoint within "
        f"{RECURSIVE_CTE_MAX_ITERS} iterations — divergent recursion "
        "(UNION ALL over a cyclic graph?)"
    )


def _plan_values(spark: SparkSession, vt: ValuesTable) -> DataFrame:
    """An inline VALUES table as a true LocalRelation (exact stats, so
    it broadcast-joins; createDataFrame's ExistingRDD has unknown stats
    and never would). Column types are inferred over ALL rows (any float
    -> double, else bool, else any int -> bigint, else string); an
    all-NULL column has no type and is refused. Cells are parser
    literals, spelled by :func:`_lit`."""
    from pyspark.sql.types import BooleanType, DoubleType, LongType, StringType

    types = []
    for i, c in enumerate(vt.cols):
        vals = [r[i] for r in vt.rows if r[i] is not None]
        if not vals:
            raise ValueError(f"VALUES column {c!r} is entirely NULL — no type to infer")
        if any(isinstance(v, float) for v in vals):
            types.append(DoubleType())
        elif any(isinstance(v, bool) for v in vals):
            if not all(isinstance(v, bool) for v in vals):
                raise ValueError(f"VALUES column {c!r} mixes bool and non-bool")
            types.append(BooleanType())
        elif any(isinstance(v, int) for v in vals):
            types.append(LongType())
        else:
            types.append(StringType())
    rows = ", ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in vt.rows)
    df = spark.sql(f"SELECT * FROM VALUES {rows} AS t({', '.join(vt.cols)})")
    # the widened types collapse into the LocalRelation at optimization;
    # the EXPLICIT broadcast hint is correct by construction (a literal
    # table is bounded by the query text) and, with estimate-based
    # broadcasts off (session.py), the only way it joins broadcast-side
    return F.broadcast(df.select(
        *[F.col(c).cast(t).alias(c) for c, t in zip(vt.cols, types)]
    ))


def _window_exclude(func: str, xc: str | None, wref: WindowSpec, w: str, wnoframe: str) -> str:
    """Lower ANSI frame exclusion (EXCLUDE CURRENT ROW / GROUP / TIES),
    which Spark lacks, to window aggregates sharing the base window's
    partition+sort (ONE Exchange). ``w`` is the spec with its frame,
    ``wnoframe`` without.

    - CURRENT ROW: sum/count/avg subtract the current row from the
      full-frame aggregate (NULL when the exclusion empties the frame);
      min/max split the ROWS frame into [lo,-1] and [1,hi] siblings
      combined by least/greatest.
    - GROUP / TIES: subtract the peer group's aggregate (a RANGE frame
      of width 0); TIES adds the current row back. RANGE/GROUPS frames
      only — a ROWS frame can cut a peer group and over-correct.

    A frame without the current row makes exclusion a no-op. sum/avg
    on raw DOUBLE data can differ from a native EXCLUDE by ulps (the
    subtraction reassociates); aggregate an exact grid such as
    floor(x*1e6+0.5) for bit-parity, as dialect_frame_exclude does."""
    lo, hi = wref.frame
    mode = wref.exclude
    if func not in ("sum", "count", "avg", "min", "max"):
        raise ValueError(
            f"EXCLUDE is not supported with {func}() — frame "
            "exclusion rewrites apply to sum/count/avg/min/max"
        )

    def agg(fn: str, spec: str) -> str:
        return f"{fn}({xc if xc is not None else 1}) OVER ({spec})"

    if lo > 0 or hi < 0:  # current row (and its peers) not in frame
        return agg("count" if xc is None else func, w)
    if func in ("min", "max"):
        if mode != "current" or wref.frame_type != "rows":
            raise ValueError(
                f"EXCLUDE {mode.upper()} with {func}() is only "
                "supported as EXCLUDE CURRENT ROW over a ROWS frame "
                "(a peer-group extremum exclusion is not decomposable "
                "into shared-sort window passes)"
            )
        parts = []
        if lo <= -1:
            parts.append(agg(func, f"{wnoframe} {_frame_sql('ROWS', lo, -1)}"))
        if hi >= 1:
            parts.append(agg(func, f"{wnoframe} {_frame_sql('ROWS', 1, hi)}"))
        if not parts:  # frame was exactly the current row -> NULL
            return f"CASE WHEN false THEN {agg(func, w)} END"
        if len(parts) == 1:
            return parts[0]
        return f"{'least' if func == 'min' else 'greatest'}({', '.join(parts)})"
    cur = "1" if xc is None else f"CASE WHEN ({xc} IS NOT NULL) THEN 1 ELSE 0 END"
    cnt_full = agg("count", w)
    if mode == "current":
        sub_cnt = cur
        sub_sum = None if xc is None else f"coalesce({xc}, 0)"
    else:  # group / ties
        if wref.frame_type == "rows":
            raise ValueError(
                "EXCLUDE GROUP/TIES requires a RANGE or GROUPS frame "
                "(a ROWS frame can cut a peer group, so subtracting "
                "the whole group's aggregate would over-correct)"
            )
        peers = f"{wnoframe} RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
        g_cnt = agg("count", peers)
        g_sum = None if xc is None else agg("sum", peers)
        if mode == "group":
            sub_cnt, sub_sum = g_cnt, g_sum
        else:  # ties: exclude the peers but keep the current row
            sub_cnt = f"({g_cnt} - {cur})"
            sub_sum = None if xc is None else f"({g_sum} - coalesce({xc}, 0))"
    excl_cnt = f"({cnt_full} - {sub_cnt})"
    if func == "count":
        return excl_cnt
    rest = f"({agg('sum', w)} - coalesce({sub_sum}, 0))"
    if func == "sum":
        return f"CASE WHEN ({excl_cnt} > 0) THEN {rest} END"
    # avg: NULL when the exclusion empties. try_divide (NULL on a zero
    # divisor — same IEEE division otherwise) instead of a
    # CASE WHEN excl_cnt > 0 guard: Spark does NOT dedup window
    # aggregate expressions when building the physical Window node, so
    # the guard form embedded a second sliding buffer for every
    # aggregate inside excl_cnt (r14 window-buffer sweep: 6 buffers on
    # the EXCLUDE TIES node where 4 distinct aggregates suffice). Each
    # window aggregate appears exactly once in the expression.
    return f"try_divide({rest}, {excl_cnt})"


_SETOP_SQL = {
    "union_all": "UNION ALL", "union": "UNION", "intersect": "INTERSECT",
    "intersect_all": "INTERSECT ALL", "except": "EXCEPT",
    "except_all": "EXCEPT ALL",
}
_JOIN_SQL = {
    "inner": "JOIN", "left": "LEFT OUTER JOIN", "right": "RIGHT OUTER JOIN",
    "full": "FULL OUTER JOIN", "cross": "CROSS JOIN",
}
_SLOT = re.compile("\x00(\\d+)\x00")


class _Emitter:
    """Prints one Spark SQL statement for a BoostQuery. A family source
    is SQL text, ``(SELECT * FROM view WHERE <family_predicate>)``, and
    CTE and derived-table bodies inline at each reference. A DataFrame
    frame remains only where an operator needs one (an as-of join,
    LATERAL ``tokenize``, TABLESAMPLE, an inline VALUES table, a
    recursive CTE's working table); frames reach the text through
    PySpark's ``{name}`` DataFrame formatting. Both are NUL-delimited
    slots, built when the statement runs."""

    def __init__(self, spark, binding, start, end, params, ctes):
        self.spark, self.binding = spark, binding
        self.start, self.end, self.params = start, end, params
        #: slot -> DataFrame, or a builder of a DataFrame or of SQL text
        self.slots: list = []
        self.built: dict[int, DataFrame | str] = {}
        self.ctes: dict[str, _Src] = {}
        self.n = 0
        #: ids of the top-level WHERE conjuncts that are a positive IN
        #: (SELECT ...) or EXISTS: their keys never match NULL
        self.null_free: set[int] = set()
        for name, df in (ctes or {}).items():
            # re-aliased: a checkpointed frame's inherited constraints
            # name its origin plan's columns, which must not leak into
            # the next checkpoint of the fixpoint loop
            self.ctes[name] = self.frame_src(df.select([F.col(c).alias(c) for c in df.columns]))

    # ------------------------------------------------------------ frames
    def slot(self, obj) -> str:
        self.slots.append(obj)
        return f"\x00{len(self.slots) - 1}\x00"

    def frame(self, i: int) -> DataFrame | str:
        if i not in self.built:
            obj = self.slots[i]
            self.built[i] = obj if isinstance(obj, DataFrame) else obj()
        return self.built[i]

    def frame_src(self, df: DataFrame) -> _Src:
        return _Src("table", list(df.columns), sql=self.slot(df), dtypes=dict(df.dtypes))

    def family(self, b: SeriesFamilyBinding) -> _Src:
        """A family source prints as ``(SELECT * FROM view WHERE ...)``,
        its predicate (``family_predicate``: the series the level names,
        ANDed with the implicit time range) filled in when the statement
        runs, once every name of the level is resolved."""
        df = self.spark.table(b.view)
        src = _Src("family", list(df.columns), b, dtypes=dict(df.dtypes))

        def text() -> str:
            where = family_predicate(
                src.dtypes, sorted(src.series) or None, self.start, self.end,
                b.series_col, b.ts_col,
            )
            return f"(SELECT * FROM {_ident(b.view)}{f' WHERE {where}' if where else ''})"

        src.sql = self.slot(text)
        return src

    def run(self, text: str) -> DataFrame:
        """``text`` as one ``spark.sql`` call: text slots are inlined,
        frame slots reach it through PySpark's ``{name}`` formatting."""
        text = _SLOT.sub(self._inline, text)
        args = {k: v for k, v in (self.params or {}).items() if f":{k}" in text} or None
        ids = sorted({int(i) for i in _SLOT.findall(text)})
        if not ids:
            return self.spark.sql(text, args=args)
        text = _SLOT.sub(r"{p\1}", text.replace("{", "{{").replace("}", "}}"))
        return self.spark.sql(text, args=args, **{f"p{i}": self.frame(i) for i in ids})

    def _inline(self, m: re.Match) -> str:
        obj = self.frame(int(m.group(1)))
        return obj if isinstance(obj, str) else m.group(0)

    def cte_frame(self, name: str) -> DataFrame:
        src = self.ctes[name]
        if src.cte is None:
            return self.frame(int(_SLOT.fullmatch(src.sql).group(1)))
        return self.run(f"SELECT * FROM {src.sql} AS {_ident(name)}")

    def alias(self, stem: str) -> str:
        self.n += 1
        return f"_{stem}{self.n}"

    def bind(self, domain: str, family: str) -> SeriesFamilyBinding:
        if isinstance(self.binding, dict):
            qn = f"{domain}.{family}"
            if qn not in self.binding:
                raise ValueError(f"no binding for source {qn}")
            return self.binding[qn]
        return self.binding

    # ----------------------------------------------------------- queries
    def expr(self, e: Expr, res: _Resolver, name_of=None, sub: bool = False) -> str:
        return _compile_expr(e, res, name_of, self.params, self if sub else None)

    def cte(self, name: str, body) -> None:
        if name in self.ctes:
            raise ValueError(f"duplicate WITH name {name!r}")
        if isinstance(body, ValuesTable):
            self.ctes[name] = self.frame_src(_plan_values(self.spark, body))
        elif body.recursive:
            local = {n: self.cte_frame(n) for n in self.ctes}
            self.ctes[name] = self.frame_src(_plan_recursive_cte(
                self.spark, name, body, self.binding, self.start, self.end,
                self.params, local,
            ))
        else:
            # inlined at each reference, like a DataFrame lineage: a
            # WITH clause keeps a CTE referenced twice as a CTE relation,
            # which a frame built from it cannot carry into a later plan
            text, cols = self.query(body)
            self.ctes[name] = _Src("table", cols, sql=f"({text})", cte=name)

    def query(self, q: BoostQuery) -> tuple[str, list[str]]:
        """-> (SQL text, output column names)."""
        for name, body in q.ctes:
            self.cte(name, body)
        if not q.set_ops:
            return self.select(q)
        # set operations: each core plans independently (its filters
        # push into ITS scan) and aligns by position, as in SQL
        text, cols = self.select(dataclasses.replace(
            q, set_ops=[], order_by=[], limit=None, offset=None, ctes=[]
        ))
        for op, rhs in q.set_ops:
            rtext, rcols = self.select(rhs)
            if len(rcols) != len(cols):
                raise ValueError(f"set-operation sides have {len(cols)} vs {len(rcols)} columns")
            text = f"({text}) {_SETOP_SQL[op]} ({rtext})"
        order = []
        for ref, desc, nulls in q.order_by:
            if ref.func or len(ref.parts) != 1 or ref.parts[0] not in cols:
                raise ValueError(
                    f"ORDER BY after a set operation must name an output column (one of {cols})"
                )
            order.append(_order_sql(_ident(ref.parts[0]), desc, nulls))
        if q.limit_ties:
            raise ValueError(
                "LIMIT ... WITH TIES after a set operation is not "
                "supported — apply it inside a derived table"
            )
        if order or q.limit is not None or q.offset is not None:
            text = f"SELECT * FROM ({text}) AS _s" + _tail_sql(order, q.limit, q.offset)
        return text, cols

    def in_sub(self, lhs: str, sq: BoostQuery, null_free: bool) -> str:
        """``lhs IN (SELECT ...)``; NOT IN keeps Spark's null-aware anti
        join. A null-free IN filters NULL keys on both sides: Spark
        rewrites the subquery to a semi join only after it infers scan
        filters, so it would not push these itself."""
        text, cols = self.query(sq)
        if len(cols) != 1:
            raise ValueError("IN (SELECT ...) must select exactly one column")
        if not null_free:
            return f"({lhs} IN ({text}))"
        a = self.alias("in")
        return (
            f"(({lhs} IS NOT NULL) AND ({lhs} IN (SELECT * FROM ({text}) AS {a} "
            f"WHERE {a}.{_ident(cols[0])} IS NOT NULL)))"
        )

    def scalar(self, sq: BoostQuery) -> str:
        f = sq.fields
        if sq.group_by or len(f) != 1 or f[0].func is None or f[0].window is not None:
            raise ValueError(
                "scalar subquery must be a single ungrouped aggregate — "
                "the reference's Aggregate-as-expression shape "
                "(query/base/expression.go:16-18)"
            )
        return f"({self.query(sq)[0]})"

    def exists(self, sq: BoostQuery, res: _Resolver, null_free: bool) -> str:
        """[NOT] EXISTS with correlated equalities: the subquery plans
        without them, projecting its join keys, and correlates on those
        keys — Spark decorrelates it to a left semi/anti join. An
        equality never matches a NULL key, so the inner keys (and the
        outer ones of a null-free EXISTS) filter NULLs, as in_sub."""
        pairs, inner = _split_exists(res.q, sq)
        where = None
        for cj in inner:
            where = cj if where is None else Expr("and", children=[where, cj])
        text, _ = self.query(dataclasses.replace(
            sq, where=where, order_by=[], limit=None, offset=None,
            fields=[FieldRef(ir.parts, alias=f"_k{j}") for j, (_, ir) in enumerate(pairs)],
        ))
        a = self.alias("ex")
        cond = " AND ".join(
            f"({a}.`_k{j}` IS NOT NULL) AND ({a}.`_k{j}` = {res.outer_sql(o)})"
            for j, (o, _) in enumerate(pairs)
        )
        outer = "".join(f"({res.outer_sql(o)} IS NOT NULL) AND " for o, _ in pairs)
        return f"({outer if null_free else ''}EXISTS (SELECT 1 FROM ({text}) AS {a} WHERE {cond}))"

    def sources(self, q: BoostQuery) -> tuple[_Resolver, str]:
        """Register the level's FROM/JOIN sources -> (resolver, FROM text)."""
        if q.sample is not None and q.joins:
            # the parser rejects this combination; a programmatically
            # built query must not silently return the unsampled result
            raise ValueError(
                "TABLESAMPLE is not supported on a query with joins; "
                "sample the base family in a CTE/derived table instead"
            )
        srcs: dict[str, _Src] = {}

        def add(domain: str, family: str, alias: str | None) -> _Src:
            key = alias or family
            if key in srcs:
                raise ValueError(f"duplicate source name {key!r} in FROM/JOIN")
            if domain == "":  # WITH-clause / derived-table reference
                if family not in self.ctes:
                    raise ValueError(
                        f"unqualified source {family!r} names no WITH clause — "
                        "FROM requires qualified domain.family (parser.go:36-38) "
                        "or a declared CTE"
                    )
                src = dataclasses.replace(self.ctes[family])
            else:
                src = self.family(self.bind(domain, family))
            src.qual = key
            srcs[key] = src
            return src

        anchor = add(q.domain, q.family, q.source_alias)
        if q.pivot is not None or q.unpivot is not None:
            anchor = srcs[anchor.qual] = self.reshape(q, anchor)
        if q.sample is not None:
            self.sample(q.sample, anchor)
        res = _Resolver(q, self.binding, srcs)
        items = [f"{anchor.sql} AS {_ident(anchor.qual)}"]
        for j in q.joins:
            seen = list(srcs)
            if j.kind == "lateral":
                items = self.lateral(j, items, res)
                continue
            right = add(j.domain, j.family, j.alias)
            if j.kind == "asof":
                items = self.asof(j, items, seen, right, res)
                continue
            conds = [
                f"({res.resolve_on(self.using(lref, seen, res))} = {res.resolve_on(rref)})"
                for lref, rref in j.on or ()
            ]
            # residual theta conjuncts ride the SAME hash join on the
            # equi anchor — Catalyst plans the equi keys and applies
            # these as the join's non-equi condition
            conds += [
                self.expr(e2, res, name_of=res.resolve_on) for e2 in j.extra or ()
            ]
            items.append(
                f"{_JOIN_SQL[j.kind]} {right.sql} AS {_ident(right.qual)}"
                + (f" ON {' AND '.join(conds)}" if conds else "")
            )
        return res, " ".join(items)

    def using(self, ref: FieldRef, seen: list[str], res: _Resolver) -> FieldRef:
        """USING sentinel (empty source) -> the ref on the accumulated
        left side: the first source in FROM/JOIN order that has the
        column."""
        if ref.parts[0] != "":
            return ref
        cname = ref.parts[1]
        for s in seen:
            src = res.srcs[s]
            phys = src.binding.value_col if src.kind == "family" and cname == "value" else cname
            if phys in src.cols:
                return FieldRef((s, cname))
        raise ValueError(f"USING column {cname!r} not found on any left-side source {seen}")

    def flatten(self, from_: str, res: _Resolver, keys: list[str]) -> tuple[str, str]:
        """The FROM items so far as one relation -> (SELECT text, alias):
        each of ``keys``' columns renamed ``key__col`` under one new
        alias, through which those sources resolve from now on."""
        qual = self.alias("from")
        cols = ", ".join(
            f"{res._qual(res.srcs[k], c)} AS {_ident(f'{k}__{c}')}"
            for k in keys for c in res.srcs[k].cols
        )
        for k in keys:
            res.srcs[k].qual, res.srcs[k].prefix = qual, f"{k}__"
        return f"SELECT {cols} FROM {from_}", qual

    def asof(self, j: JoinClause, items: list[str], seen: list[str], right: _Src,
             res: _Resolver) -> list[str]:
        """ASOF JOIN through the certified one-shuffle union+window
        operators.timeseries.asof_join — backward direction, ordering
        on the FROM family's and the right family's canonical ts. The
        FROM items so far and the right family become one frame whose
        columns carry their source key as a prefix."""
        left = res.srcs[seen[0]]
        if left.kind != "family" or right.kind != "family":
            raise ValueError(
                "ASOF JOIN requires series-family sources on "
                "both sides (a WITH source has no canonical "
                "time column)"
            )
        from boostdb_spark.operators.timeseries import asof_join

        kb = right.qual
        on = []
        for lref, rref in j.on:
            lref = self.using(lref, seen, res)
            on.append((f"{lref.parts[0]}__{res.on_col(lref)[1]}", f"{kb}__{res.on_col(rref)[1]}"))
        text, qual = self.flatten(" ".join(items), res, seen)
        rename = {rc: lc for lc, rc in on}  # asof_join's equi keys are same-name columns
        rtext = "SELECT " + ", ".join(
            f"{_ident(c)} AS {_ident(rename.get(f'{kb}__{c}', f'{kb}__{c}'))}" for c in right.cols
        ) + f" FROM {right.sql} AS {_ident(kb)}"

        def build() -> DataFrame:
            return asof_join(
                self.run(text), self.run(rtext), on=[lc for lc, _ in on],
                ts_col=f"{seen[0]}__{left.binding.ts_col}",
                right_ts_col=f"{kb}__{right.binding.ts_col}", direction="backward",
            )

        right.prefix, right.qual = f"{kb}__", qual
        return [f"{self.slot(build)} AS {_ident(qual)}"]

    def lateral(self, j: JoinClause, items: list[str], res: _Resolver) -> list[str]:
        """JOIN LATERAL tokenize(x) t: a pure-JVM posexplode generator
        (whole-stage codegen, no shuffle, no Python); inner semantics —
        rows with no output rows drop. It runs on the frame of the one
        plain family source its argument reads, else on the FROM items
        so far made one frame."""
        from boostdb_spark.operators.text import tokens

        key = j.alias or j.family
        if key in res.srcs:
            raise ValueError(f"duplicate source name {key!r} in FROM/JOIN")
        prefix = f"__{key}_"

        def step(df: DataFrame) -> DataFrame:
            return df.select(
                "*", F.posexplode(tokens(F.expr(arg))).alias(f"{prefix}pos", f"{prefix}token")
            )

        if len(res.srcs) == 1 and not res.single().prefix:  # keeps its names
            text, qual = f"SELECT * FROM {items[0]}", res.single().qual
        else:
            text, qual = self.flatten(" ".join(items), res, list(res.srcs))
        items = [f"{self.slot(lambda: step(self.run(text)))} AS {_ident(qual)}"]
        arg = self.expr(j.lateral_arg, res, name_of=lambda r: _ident(
            (lambda src, col: src.prefix + col)(*res.on_col(r))
        ))
        res.srcs[key] = _Src("lateral", list(_LATERAL_FNS[j.family]), qual=qual, prefix=prefix)
        return items

    def sample(self, s: SampleClause, src: _Src) -> None:
        """TABLESAMPLE (p PERCENT ON key): deterministic hash-bucket cut
        (operators/sampling.py::deterministic_sample semantics) — one
        codegen filter conjoined into the scan pipeline, monotone in p,
        reproducible on any partitioning/cluster. A WITH/derived anchor
        is cut as a frame of its relation."""
        from boostdb_spark.operators.sampling import _bucket

        if s.key_col not in src.cols:
            raise ValueError(
                f"TABLESAMPLE ON {s.key_col!r} is not a column "
                f"of the source (columns: {sorted(src.cols)})"
            )
        # threshold computed exactly in the 10k-bucket space: p percent
        # maps to round(p*100) buckets (int(p/100*10000) truncates under
        # float rounding — 57 PERCENT gave 5699 buckets)
        cut = int(round(s.pct * 100))

        def step(df: DataFrame) -> DataFrame:
            return df.filter(_bucket(F.col(s.key_col), 10_000) < cut)

        base = src.sql
        src.sql = self.slot(lambda: step(self.run(f"SELECT * FROM {base} AS _ts")))

    def reshape(self, q: BoostQuery, src: _Src) -> _Src:
        """PIVOT/UNPIVOT on a plain-column anchor, in Spark's own
        operators. PIVOT with an explicit value list is ONE partial+final
        hash aggregate (no per-value scans, no driver-side distinct
        pass); the implicit ANSI group keys are the columns the clause
        doesn't reference. count(*) pivots fill absent cells with 0
        (ANSI/DuckDB count semantics); value aggregates leave them NULL.
        UNPIVOT is one Expand with NULL cells dropped (EXCLUDE NULLS)."""
        if q.domain != "":
            raise ValueError(
                "PIVOT/UNPIVOT require a plain-column source — wrap the "
                "family scan in a derived table: FROM (SELECT ...) t "
                "PIVOT (...)"
            )
        cols = src.cols
        if q.pivot is not None:
            p = q.pivot
            if p.key_col not in cols:
                raise ValueError(
                    f"PIVOT FOR column {p.key_col!r} is not a source column "
                    f"(columns: {sorted(cols)})"
                )
            if p.agg_col is not None and p.agg_col not in cols:
                raise ValueError(
                    f"PIVOT aggregate column {p.agg_col!r} is not a source "
                    f"column (columns: {sorted(cols)})"
                )
            keys = [c for c in cols if c not in (p.key_col, p.agg_col)]
            if not keys:
                raise ValueError(
                    "PIVOT needs at least one implicit group-key column "
                    "(a source column not referenced by the clause)"
                )
            names = [str(v) for v in p.values]
            agg = _call_sql(p.func, [_ident(p.agg_col)] if p.agg_col else [])
            text = (
                f"SELECT * FROM {src.sql} PIVOT ({agg} FOR {_ident(p.key_col)} "
                f"IN ({', '.join(_lit(v) for v in p.values)}))"
            )
            if p.agg_col is None:
                text = (
                    f"SELECT {', '.join(_ident(k) for k in keys)}, "
                    + ", ".join(f"coalesce({_ident(n)}, 0) AS {_ident(n)}" for n in names)
                    + f" FROM ({text})"
                )
            out = keys + names
        else:
            u = q.unpivot
            missing = [c for c in u.cols if c not in cols]
            if missing:
                raise ValueError(
                    f"UNPIVOT IN names missing columns {missing} (columns: {sorted(cols)})"
                )
            text = (
                f"SELECT * FROM {src.sql} UNPIVOT ({_ident(u.val_col)} FOR "
                f"{_ident(u.key_col)} IN ({', '.join(_ident(c) for c in u.cols)}))"
            )
            out = [c for c in cols if c not in u.cols] + [u.key_col, u.val_col]
        return _Src("table", out, sql=f"({text})", qual=src.qual)

    def call(self, ref: FieldRef, res: _Resolver, over: bool = False) -> str:
        """An aggregate or window call without its OVER, printed from its
        table row."""
        if ref.window is not None and not over:
            raise ValueError(
                f"window call {ref.func}() is supported as a whole select item "
                "only — alias it there (and filter it with QUALIFY)"
            )
        args = [self.expr(a, res) for a in (ref.arg_expr, ref.arg2_expr) if a is not None]
        if ref.parts:
            args.insert(0, res.ref_sql(ref))
        flt = None if ref.filter_expr is None else self.expr(ref.filter_expr, res)
        keys = [(res.ref_sql(r), d) for r, d in ref.within_group or ()]
        return _call_sql(ref.func, args, ref, keys, flt)

    def ts_ns(self, res: _Resolver, ref: FieldRef) -> str:
        """Long nanoseconds from a time column of either representation
        (functions/scalar.py::ts_ns, spelled in SQL)."""
        src, _, col = res.locate(ref)
        sql = res.ref_sql(ref)
        dt = src.dtypes.get(col) if src.cte is None else dict(
            self.cte_frame(src.cte).dtypes
        )[col]
        if dt in ("bigint", "long"):
            return sql
        if dt == "timestamp_ntz":
            return (
                "(timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
                f"{sql}) * 1000)"
            )
        return f"(unix_micros(CAST({sql} AS TIMESTAMP)) * 1000)"

    def window(self, ref: FieldRef, res: _Resolver, pre: list, i: int) -> str:
        """``fn(...) OVER (...)``. GROUPS frames lower to a RANGE frame
        over a dense_rank() of the ORDER BY key computed one level below
        (rank distance == peer-group distance; CURRENT ROW -> offset 0
        -> the whole peer group); both window passes share the
        (partition, order) sort -> ONE Exchange. RANGE INTERVAL frames
        order by the ns conversion of the one time column, so the ns
        offsets compare whatever the ts representation."""
        w = ref.window
        pb = ", ".join(res.ref_sql(p) for p in w.partition_by)
        spec = f"PARTITION BY {pb}" if pb else ""
        order = ", ".join(
            f"{res.ref_sql(o)} {'DESC' if d else 'ASC'}" for o, d in w.order_by
        )
        ft = w.frame_type if w.frame is not None else None
        if ft == "groups":
            if not w.order_by:
                raise ValueError(
                    "GROUPS frames require ORDER BY in the window "
                    "spec (peer groups are defined by the sort key)"
                )
            gname = f"_grp_{i}"
            pre.append(f"dense_rank() OVER ({spec} ORDER BY {order}) AS {_ident(gname)}")
            order = f"{_ident(gname)} ASC"
        elif ft == "range_ns":
            if len(w.order_by) != 1 or w.order_by[0][1]:
                raise ValueError(
                    "RANGE INTERVAL frames require exactly one ascending ORDER BY time column"
                )
            order = self.ts_ns(res, w.order_by[0][0])
        noframe = f"{spec} ORDER BY {order}" if order else spec
        full = noframe
        if w.frame is not None:
            # rank/offset functions are frame-insensitive by ANSI
            # definition; first_value/last_value ARE frame-sensitive
            # (last_value(...) IGNORE NULLS over a preceding frame is
            # the LOCF idiom) and accept one
            if not _FUNCS[ref.func.removesuffix("_distinct")].frame:
                raise ValueError(f"{ref.func}() does not take a frame clause")
            full = f"{noframe} {_frame_sql('ROWS' if ft == 'rows' else 'RANGE', *w.frame)}"
        if w.exclude is not None:
            xc = self.expr(ref.arg_expr, res) if ref.arg_expr is not None else (
                res.ref_sql(ref) if ref.parts else None
            )
            return _window_exclude(ref.func, xc, w, full, noframe)
        return f"{self.call(ref, res, over=True)} OVER ({full})"

    def select(self, q: BoostQuery) -> tuple[str, list[str]]:
        """One SELECT level: FROM/JOIN -> WHERE -> aggregate | window |
        projection -> QUALIFY / DISTINCT ON / ORDER BY / LIMIT."""
        res, from_ = self.sources(q)
        if res.joined and any(
            f.window is not None and f.window.frame is not None
            and f.window.frame_type == "groups" for f in q.fields
        ):
            # GROUPS ranks are computed one level below the frame
            # (window): a joined FROM becomes one relation first
            text, qual = self.flatten(from_, res, list(res.srcs))
            from_ = f"({text}) AS {_ident(qual)}"
        sel: list[tuple[str, str | None, str | None, FieldRef]] = []
        for f in q.fields:  # resolve every select ref: the series to fetch
            for r in _reads(f):
                res.resolve(r)
            col = res.resolve(f)[1] if f.parts and f.func is None else None
            sel.append((res.default_name(f), col, f.func, f))
        # a computed select item may serve as a GROUP BY key via its
        # alias (SELECT floor(x/50) AS bin ... GROUP BY bin); one whose
        # refs are ALL aggregate calls is a POST-AGGREGATION expression
        # (sum(a)/sum(b), round(avg(x), 2)) inside the one hash
        # aggregate. Any OTHER computed item in a grouped/aggregated
        # select has no well-defined per-group value and is rejected.
        computed_exprs = {
            f.alias: f.expr for f in q.fields if f.expr is not None and f.alias
        }
        group_computed = {
            g.parts[0] for g in q.group_by
            if len(g.parts) == 1 and g.parts[0] in computed_exprs
        }
        windowed = any(f.window is not None for f in q.fields)
        post_agg = [
            f for f in q.fields
            if not windowed and f.expr is not None and f.alias
            and f.alias not in group_computed
            and (lambda rs: bool(rs) and all(r.func is not None for r in rs))(
                list(_expr_refs(f.expr))
            )
        ]
        stray = [
            f.alias for f in q.fields
            if f.expr is not None and f.alias not in group_computed and f not in post_agg
        ]
        if stray and (q.group_by or post_agg or any(f.func for f in q.fields)):
            raise ValueError(
                "computed select expressions must be GROUP BY keys (by their "
                "AS alias) or expressions over aggregate calls when mixed "
                "with grouping or aggregate calls; "
                f"{stray} are neither grouped nor aggregated"
            )
        where = None
        if q.where is not None:
            # subqueries ride top-level AND conjuncts only: [NOT] IN
            # (SELECT ...) and [NOT] EXISTS plan as Spark's semi/anti
            # joins (NOT IN as the null-aware anti join), a comparison
            # against a scalar aggregate as a scalar subquery
            for cj in _conjuncts(q.where):
                if cj.kind == "exists" or (
                    cj.kind == "in" and len(cj.children) == 2
                    and cj.children[1].kind == "subquery"
                ):
                    self.null_free.add(id(cj))
                cc = cj.children[0] if cj.kind == "not" else cj
                if not (
                    cc.kind == "exists"
                    or (cc.kind in ("in", "cmp") and len(cc.children) == 2)
                    or not _has_subquery(cc)
                ):
                    self.expr(Expr("subquery"), res)  # raises the placement error
            where = self.expr(q.where, res, sub=True)
        for g in q.group_by:  # register group-by series
            if g.parts and not (len(g.parts) == 1 and g.parts[0] in group_computed):
                res.resolve(g)
        if windowed and (q.group_by or any(f.func and f.window is None for f in q.fields)):
            raise ValueError("window functions cannot mix with GROUP BY/aggregates")
        if q.qualify is not None and not windowed:
            raise ValueError(
                "QUALIFY requires a window-function select item "
                "(use WHERE or HAVING for non-analytic predicates)"
            )
        for f in q.fields:  # register window-ref series
            if f.window is not None:
                for r in [*f.window.partition_by, *(o for o, _ in f.window.order_by)]:
                    res.resolve(r)
        res.frozen = True

        post_name = None
        hidden: dict[str, str] = {}  # call SQL -> hidden aggregate name
        group = having = ""
        distinct = "DISTINCT " if q.distinct else ""
        if q.group_by or post_agg or any(f.func and f.window is None for f in q.fields):
            # a group key keeps the SELECT item's alias when one names
            # the same column (SELECT a.x AS k ... GROUP BY a.x outputs k)
            sel_alias_of: dict[str, str] = {}
            for alias, scol, fn2, _r in sel:
                if fn2 is None and scol is not None and alias:
                    sel_alias_of.setdefault(scol, alias)
            gkeys: dict[str, tuple[str, str]] = {}  # column -> (sql, name)
            for g in q.group_by:
                if len(g.parts) == 1 and g.parts[0] in group_computed:
                    a = g.parts[0]
                    if not res.joined and a in res.single().cols:
                        # Spark's precedence would group by the column,
                        # the alias names the expression: refuse instead
                        raise ValueError(
                            f"GROUP BY {a} is ambiguous: {a!r} is both a computed "
                            "select alias and a physical column of the source — "
                            "rename the alias (Spark precedence would pick the "
                            "column; this dialect refuses instead of guessing)"
                        )
                    gkeys[f"\x00{a}"] = (self.expr(computed_exprs[a], res), a)
                    continue
                col = res.resolve(g)[1]
                gkeys[col] = (res.sql(col), sel_alias_of.get(col, res.default_name(g)))
            gnames = {n for _, n in gkeys.values()}
            out_names = {alias for alias, _, _, _ in sel}
            calls = [(self.call(ref, res), alias) for alias, _, func, ref in sel if func]
            # plain non-grouped select fields default to AVG (GROUP BY
            # is a declared-only stub in the reference,
            # query/base/expression.go:22-25)
            calls += [
                (_call_sql("avg", [res.sql(col)]), alias)
                for alias, col, func, _ in sel
                if not func and col is not None and col not in gkeys
            ]
            call_name: dict[str, str] = {}
            for sql, alias in calls:
                call_name.setdefault(sql, alias)

            def post_name(ref: FieldRef) -> str:
                """HAVING / ORDER BY scope: select aliases and group
                names pass through; aggregate calls match a select item
                or become a hidden aggregate of the same pass (Spark
                resolves no ORDER BY aggregate through a HAVING)."""
                if ref.func is None:
                    if len(ref.parts) == 1 and (
                        ref.parts[0] in out_names or ref.parts[0] in gnames
                    ):
                        return ref.parts[0]
                    col = res.resolve(ref)[1]
                    if col in gkeys:
                        return gkeys[col][1]
                    raise ValueError(f"{'.'.join(ref.parts)} is neither grouped nor aggregated")
                sql = self.call(ref, res)  # the same call prints the same SQL
                if sql in call_name:
                    return call_name[sql]
                if any((ref.arg_expr, ref.arg2_expr, ref.filter_expr, ref.within_group)):
                    return hidden.setdefault(sql, f"_h{len(hidden)}_{ref.func}")
                col = res.resolve(ref)[1] if ref.parts else "star"
                return hidden.setdefault(
                    sql, f"_h_{ref.func}_{col.replace('`.`', '__').strip('`')}"
                )

            for r in _expr_refs(q.having) if q.having is not None else ():
                post_name(r)
            for r, _, _ in q.order_by:
                if r.expr is None:
                    post_name(r)
            if hidden and (q.distinct or q.distinct_on):
                raise ValueError(
                    "SELECT DISTINCT cannot combine with HAVING/ORDER BY "
                    "aggregates that are not in the select list"
                )

            items = [f"{s} AS {_ident(n)}" for s, n in [*gkeys.values(), *calls]]
            items += [  # post-aggregation expressions print their calls inline
                f"{self.expr(f.expr, res, name_of=lambda r: self.call(r, res))} AS {_ident(f.alias)}"
                for f in post_agg
            ]
            items += [f"{s} AS {_ident(h)}" for s, h in hidden.items()]
            out = [n for _, n in [*gkeys.values(), *calls]]
            out += [f.alias for f in post_agg]
            keys = [s for s, _ in gkeys.values()]
            if q.group_mode == "grouping_sets":
                def set_sql(g: FieldRef) -> str:
                    if len(g.parts) == 1 and g.parts[0] in group_computed:
                        return gkeys[f"\x00{g.parts[0]}"][0]
                    return res.sql(res.resolve(g)[1])

                group = " GROUP BY GROUPING SETS (" + ", ".join(
                    "(" + ", ".join(set_sql(g) for g in s) + ")"
                    for s in q.grouping_sets or []
                ) + ")"
            elif keys and q.group_mode in ("rollup", "cube"):
                group = f" GROUP BY {q.group_mode.upper()}({', '.join(keys)})"
            elif keys:
                group = f" GROUP BY {', '.join(keys)}"
            if q.having is not None:
                having = f" HAVING {self.expr(q.having, res, name_of=lambda r: _ident(post_name(r)))}"
        elif windowed:
            items, pre = [], []
            for alias, col, func, ref in sel:
                if ref.window is None:
                    s = self.expr(ref.expr, res) if ref.expr is not None else res.sql(col)
                else:
                    s = self.window(ref, res, pre, len(items))
                items.append(f"{s} AS {_ident(alias)}")
            if pre:  # GROUPS ranks, one level below the frame
                inner = f"SELECT *, {', '.join(pre)} FROM {from_}"
                from_ = f"({inner}{f' WHERE {where}' if where else ''}) AS {_ident(res.single().qual)}"
                where = None
            out = [alias for alias, _, _, _ in sel]
        elif q.star:
            # SELECT *: the source's full column set; EXCLUDE drops
            # named columns before the scan, so Catalyst's column
            # pruning still narrows the parquet ReadSchema
            cols = res.single().cols
            missing = [c for c in q.exclude if c not in cols]
            if missing:
                raise ValueError(
                    f"EXCLUDE names unknown columns {missing} (source columns: {cols})"
                )
            ex = ", ".join(_ident(c) for c in q.exclude)
            items = [f"* EXCEPT ({ex})" if ex else "*"]
            out = [c for c in cols if c not in q.exclude]
        else:  # plain projection; scalar subqueries only here
            items = [
                f"{self.expr(ref.expr, res, sub=True) if ref.expr is not None else res.sql(col)}"
                f" AS {_ident(alias)}"
                for alias, col, _, ref in sel
            ]
            out = [alias for alias, _, _, _ in sel]
        core = (
            f"SELECT {distinct}{', '.join(items)} FROM {from_}"
            + (f" WHERE {where}" if where else "") + group + having
        )
        text = self.tail(q, res, core, out + list(hidden.values()), post_name)
        if hidden:
            text = f"SELECT {', '.join(_ident(c) for c in out)} FROM ({text}) AS _h"
        return text, out

    def tail(self, q, res, core, out, post_name) -> str:
        """QUALIFY, DISTINCT ON, ORDER BY, LIMIT [WITH TIES] / OFFSET."""
        if any(ref.window is not None for ref, _, _ in q.order_by):
            raise ValueError(
                "ORDER BY cannot take a window call — alias the select item "
                "and order by the alias"
            )
        if not (
            q.qualify is not None or q.distinct_on or q.limit_ties
            or any(r.expr is not None for r, _, _ in q.order_by)
        ):
            order = []
            for ref, desc, nulls in q.order_by:
                if post_name is not None:
                    target = _ident(post_name(ref))
                elif ref.func is None and len(ref.parts) == 1 and ref.parts[0] in out:
                    # a select alias / output column name wins over value
                    # sugar (ORDER BY eid must not resolve to the value col)
                    target = _ident(ref.parts[0])
                else:
                    name = res.default_name(ref)
                    target = _ident(name) if name in out else res.ref_sql(ref)
                order.append(_order_sql(target, desc, nulls))
            return core + _tail_sql(order, q.limit, q.offset)

        def out_name(ref: FieldRef, what: str) -> str:
            if ref.func is not None or len(ref.parts) != 1 or ref.parts[0] not in out:
                raise ValueError(
                    f"{what} must name an output column (one of {out}), got {'.'.join(ref.parts)}"
                )
            return ref.parts[0]

        text = core
        if q.qualify is not None:
            # QUALIFY filters the analytic projection by its OUTPUT names,
            # after the window functions, before DISTINCT/ORDER/LIMIT
            def qual_name(ref: FieldRef) -> str:
                if ref.func is not None or ref.window is not None:
                    raise ValueError(
                        "QUALIFY references select-list output names — "
                        "alias the window item and filter on the alias"
                    )
                return _ident(out_name(ref, "QUALIFY"))

            text = f"SELECT * FROM ({text}) AS _q WHERE {self.expr(q.qualify, res, name_of=qual_name)}"
        if q.distinct_on:
            # one survivor per key group, chosen by the residual ORDER BY
            # keys (postgres semantics): ONE row_number window partitioned
            # by the keys — never a self-join; Spark's WindowGroupLimit
            # keeps only the top row per group
            keys = [out_name(r, "DISTINCT ON/ORDER BY") for r in q.distinct_on]
            if len(q.order_by) <= len(keys):
                raise ValueError(
                    "DISTINCT ON requires ORDER BY to lead with the ON "
                    "columns and add at least one tiebreak key (which row "
                    "survives is undefined otherwise)"
                )
            lead = [out_name(r, "DISTINCT ON/ORDER BY") for r, _, _ in q.order_by[: len(keys)]]
            if lead != keys:
                raise ValueError(
                    f"ORDER BY must lead with the DISTINCT ON columns "
                    f"{keys} (postgres rule), got {lead}"
                )
            rest = ", ".join(
                _order_sql(_ident(out_name(r, "DISTINCT ON/ORDER BY")), d, n)
                for r, d, n in q.order_by[len(keys):]
            )
            text = (
                f"SELECT * EXCEPT (_don) FROM (SELECT *, row_number() OVER "
                f"(PARTITION BY {', '.join(_ident(k) for k in keys)} ORDER BY {rest}) "
                f"AS _don FROM ({text}) AS _d) AS _d WHERE _don = 1"
            )
        hidden, targets, order = [], [], []
        for i, (ref, desc, nulls) in enumerate(q.order_by):
            if ref.expr is not None:
                # ORDER BY <expression> over select-list OUTPUT columns:
                # a hidden sort column, dropped after the sort
                def _ord_ref(r: FieldRef) -> str:
                    if r.func is not None or len(r.parts) != 1 or r.parts[0] not in out:
                        raise ValueError(
                            "ORDER BY expressions may reference "
                            "select-list output columns only "
                            f"(got {'.'.join(r.parts)!r}; columns: {sorted(out)})"
                        )
                    return _ident(r.parts[0])

                name = f"__ord_{i}"
                hidden.append(f"{self.expr(ref.expr, res, name_of=_ord_ref)} AS {_ident(name)}")
            elif post_name is not None:
                name = post_name(ref)
            elif ref.func is None and len(ref.parts) == 1 and ref.parts[0] in out:
                name = ref.parts[0]
            else:
                name = res.default_name(ref)
                if name not in out:
                    out_name(ref, "ORDER BY")
            targets.append(name)
            order.append(_order_sql(_ident(name), desc, nulls))
        if hidden:
            text = f"SELECT *, {', '.join(hidden)} FROM ({text}) AS _o"
        if q.limit is not None and q.limit_ties:
            # LIMIT n WITH TIES: every row whose FULL sort-key tuple is
            # in the top-n page — a broadcast left-semi join against the
            # page's DISTINCT sort keys, never a global rank() window
            # (which would move the whole relation through one partition)
            tkeys = list(dict.fromkeys(targets))
            page = (
                "SELECT DISTINCT "
                + ", ".join(f"{_ident(k)} AS `__tie_{j}`" for j, k in enumerate(tkeys))
                + f" FROM (SELECT * FROM ({text}) AS _w ORDER BY {', '.join(order)} "
                f"LIMIT {q.limit}) AS _pg"
            )
            cond = " AND ".join(
                f"(_t.{_ident(k)} <=> _p.`__tie_{j}`)" for j, k in enumerate(tkeys)
            )
            text = (
                f"SELECT /*+ BROADCAST(_p) */ _t.* FROM ({text}) AS _t LEFT SEMI JOIN "
                f"({page}) AS _p ON {cond} ORDER BY {', '.join(order)}"
            )
        else:
            text = f"SELECT * FROM ({text}) AS _o" + _tail_sql(order, q.limit, q.offset)
        if hidden:
            text = f"SELECT {', '.join(_ident(c) for c in out)} FROM ({text}) AS _f"
        return text


def plan(
    spark: SparkSession,
    q: BoostQuery,
    binding: SeriesFamilyBinding | dict[str, SeriesFamilyBinding],
    start=None,
    end=None,
    params: dict | None = None,
    _ctes: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Plan a BoostQuery as ONE Spark SQL statement (module docstring).
    ``binding`` may be a dict keyed by ``domain.family``; a single
    binding serves every family source (self-joins). ``start``/``end``
    bound every family source's ``ts`` to ``[start, end)``; they are
    INT64 ns or None, and a family source with another type raises
    ``ValueError``. ``_ctes``
    supplies already-planned CTE frames (the fixpoint's working
    table)."""
    em = _Emitter(spark, binding, start, end, params, _ctes)
    return em.run(em.query(q)[0])


def query(
    spark: SparkSession,
    sql: str,
    binding: SeriesFamilyBinding,
    start=None,
    end=None,
    params: dict | None = None,
) -> DataFrame:
    """Parse + plan in one call — the reference's
    ``Parser.Parse -> Planner.GeneratePlan -> Executor`` lifecycle
    (SURVEY.md section 3.1) as a single declarative step.

    ``params`` binds ``:name`` placeholder literals (the reference's
    named-literal machinery, query/base/literalintexpression.go:9-113):
    parse once, re-plan with fresh bindings per execution."""
    return plan(spark, parse(sql), binding, start=start, end=end, params=params)
