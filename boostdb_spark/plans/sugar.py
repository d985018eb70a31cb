"""The boostdb SQL-dialect front: parse -> logical query -> DataFrame.

The reference parses its dialect with the TiDB parser into ``QueryOps``
(query/parser/parser.go:25-52), plans a fetch/select/where DAG
(query/executor/planner.go:115-243), and hand-executes it row by row
(query/executor/executor.go:184-274). Here the same dialect —

    [WITH name AS ( SELECT ... ) [, name2 AS ( ... )]]
    SELECT * | [alias.]series[.attribute] | count(*)|count|sum|avg|min|max(expr)
           | rank()|dense_rank()|row_number()|lag(f)|lead(f)|agg(expr)
             OVER (PARTITION BY ... [ORDER BY ... [DESC]]
                   [ROWS BETWEEN ... AND ...])
           [AS name] [, ...]
    FROM domain.family [alias] | cte_name [alias]
         [ [INNER|LEFT|RIGHT|FULL [OUTER]|CROSS] JOIN
           (domain.family | cte_name) [alias] ON a.x = b.y ]...
    [WHERE <expr over the same sugared names; :name placeholders bind
           from a params dict at plan time; [NOT] EXISTS (SELECT ...)
           with a correlated equality decorrelates to a semi/anti join>]
    [GROUP BY ...] [HAVING ...] [ORDER BY ...] [LIMIT n]

CASE expressions (both SQL forms) are operands anywhere an expression
is accepted — SELECT projections, WHERE predicates, aggregate/window
arguments (``sum(CASE WHEN ... THEN ... END)`` is the
conditional-aggregation idiom):

    CASE WHEN <bool> THEN <expr> [WHEN ...]* [ELSE <expr>] END
    CASE <expr> WHEN <val> THEN <expr> [...]  [ELSE <expr>] END

GROUP BY accepts plain sugared refs AND the alias of a computed
select item (``SELECT floor(x/50) AS bin ... GROUP BY bin`` — the
derived-bucket aggregation; the expression materializes as an
internal column before the groupBy). A computed alias that ALSO
names a physical source column is rejected as ambiguous.

WITH (CTE) bodies are single-level (no nested WITH); a later CTE and
the main query reference earlier CTE names as bare FROM/JOIN sources
with plain-column (non-sugared) ``[alias.]col`` refs — the CTE's own
plan is its scan, filters already pushed.

Scalar functions (whitelisted, usable in SELECT expressions, WHERE,
and aggregate/window arguments; a function name followed by ``(``
wins over a same-named series):

    abs(x) sqrt(x) floor(x) ceil(x)        -- floor/ceil return DOUBLE
    round(x[, n])                          -- ENGINE-INDEPENDENT grid:
                                              floor(x*10^n + 0.5)/10^n,
                                              identical IEEE ops on any
                                              engine (ANSI half-up
                                              rounding is not bit-stable
                                              across engines)
    upper(s) lower(s) length(s) trim(s)
    coalesce(a, b, ...) concat(a, b, ...) substring(s, pos, len)
    year(ts) month(ts) day(ts) hour(ts) minute(ts)
    date_trunc('unit', ts)                 -- unit is a string literal

— is parsed by a small recursive-descent parser into a ``BoostQuery``
(the QueryOps analog) and *planned onto a Spark DataFrame*, so Catalyst
is the optimizer and executor. Name sugar implemented exactly as the
reference declares it (query/parser/selectfieldparser.go:100-135,
whereparser.go:271-285):

- ``series``              -> that series' value column        (value sugar)
- ``series.attr``         -> per-datapoint attribute column
- ``alias.series.attr``   -> ditto, alias-qualified
- every query carries an implicit ``[start, end)`` time range
  (query/executor/executor.go:145-147) passed programmatically, never
  in the SQL.

GROUP BY / HAVING / ORDER BY / LIMIT are *declared-only* stubs in the
reference (query/base/expression.go:22-32); the dialect here implements
them. Comparison coercion follows ANSI Spark semantics, deliberately not
the reference's left-type-wins quirks (SURVEY.md section 1.2).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from boostdb_spark.sources.seriesfamily import apply_time_range

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
        (?P<num>\d+\.\d+|\.\d+|\d+)
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
    extension of the dialect (completes the 'rich time-series functions
    on a SQL-like front' north star, reference README.md:8; nothing in
    the reference parses OVER)."""

    partition_by: list["FieldRef"] = field(default_factory=list)
    order_by: list[tuple["FieldRef", bool]] = field(default_factory=list)
    #: ROWS BETWEEN frame as (start, end) row offsets relative to the
    #: current row (None = no explicit frame; UNBOUNDED maps to
    #: +/-(2^63-1), Spark's Window.unbounded* sentinels). For
    #: frame_type 'range_ns' the offsets are NANOSECOND deltas on the
    #: single ORDER BY time column (RANGE BETWEEN INTERVAL bounds).
    frame: tuple[int, int] | None = None
    #: 'rows' | 'range_ns' | 'groups' — which Spark frame API the
    #: bounds feed (rowsBetween; rangeBetween over the canonical ns
    #: column; or ANSI GROUPS mode, planned as rangeBetween over a
    #: dense_rank of the ORDER BY key since Spark has no native GROUPS)
    frame_type: str = "rows"
    #: ANSI frame-exclusion clause: None (EXCLUDE NO OTHERS, the
    #: default) | 'current' | 'group' | 'ties'. Spark has no native
    #: frame exclusion; the planner lowers it compositionally —
    #: subtract the current row / the peer-group aggregate from the
    #: full-frame aggregate (sum/count/avg), or split the ROWS frame
    #: around the current row (min/max) — all passes sharing the one
    #: window sort.
    exclude: str | None = None
    #: OVER w forward reference to a named WINDOW clause — substituted
    #: with the declared spec after the core parses (None once resolved)
    pending_name: str | None = None


@dataclass
class FieldRef:
    """A sugared column reference (selectfieldparser.go:100-135),
    optionally wrapped in an aggregate call — the syntax the reference
    declares via its Aggregate/GroupBy enums but never parses
    (query/base/expression.go:16-25)."""

    parts: tuple[str, ...]
    alias: str | None = None  # AS name (parsed but unused in ref, :88)
    func: str | None = None  # count/sum/avg/min/max; parts=() for count(*)
    window: "WindowSpec | None" = None  # fn(...) OVER (...) analytic form
    #: computed select item (arithmetic over sugared refs/literals);
    #: parts/func are unused when set, and an AS alias is required
    expr: "Expr | None" = None
    #: aggregate/window argument when it is an EXPRESSION rather than a
    #: bare ref (sum(floor(x*100+0.5)) OVER ...); parts=() when set and
    #: an AS alias is required
    arg_expr: "Expr | None" = None
    #: second aggregate argument: the ORDER operand of the two-arg
    #: ``max_by(x, y)`` / ``min_by(x, y)`` (arg_max/arg_min) aggregates
    arg2_expr: "Expr | None" = None
    #: ANSI ``agg(x) FILTER (WHERE pred)`` — rows failing pred are
    #: excluded from THIS aggregate only; compiled as
    #: agg(CASE WHEN pred THEN x END) (aggregates ignore NULLs, which
    #: is exactly the ANSI FILTER semantics)
    filter_expr: "Expr | None" = None
    #: ``first_value(x) IGNORE NULLS OVER (...)`` — the gap-fill/LOCF
    #: navigation modifier (ANSI trailing form); only first_value/
    #: last_value accept it (Spark's lag/lead do not expose the flag)
    ignore_nulls: bool = False
    #: ordered-set sort keys: ``string_agg(x[, sep]) WITHIN GROUP
    #: (ORDER BY k [DESC], ...)`` and the single-keyed
    #: ``percentile_cont/percentile_disc(f) WITHIN GROUP (ORDER BY k)``
    #: the ordered-set aggregate's sort keys (refs + desc flags)
    within_group: "list[tuple[FieldRef, bool]] | None" = None
    #: string_agg separator literal (ANSI listagg default is ',')
    sep: str = ","


@dataclass
class Expr:
    kind: str  # 'cmp' | 'and' | 'or' | 'not' | 'in' | 'between' | 'like' | 'isnull' | 'lit' | 'ref' | 'param'
    op: str | None = None
    children: list["Expr"] = field(default_factory=list)
    value: object = None  # literal value or FieldRef


@dataclass
class JoinClause:
    """A parsed join — the JoinInfo the reference collects and then
    drops on the floor (joinparser.go:84-201 parses it; AddJoinOp at
    query/base/queryops.go:60-66 has an empty body). Here it plans."""

    domain: str  # "" = WITH-clause (CTE) / derived-table reference
    family: str
    alias: str | None
    kind: str  # 'inner' | 'left' | 'right' | 'full' | 'cross' | 'asof'
    #: AND-ed equi pairs (a.x = b.y [AND a.z = b.w] ...), None for cross
    on: list[tuple[FieldRef, FieldRef]] | None
    #: non-equi ON conjuncts (range/theta predicates) — residual
    #: filters on the equi hash join, never a cartesian
    extra: "list[Expr] | None" = None
    #: kind 'lateral' only: the table function's argument expression
    #: (family holds the function name, alias the row alias)
    lateral_arg: "Expr | None" = None


@dataclass
class ValuesTable:
    """An inline ``(VALUES (...), (...)) t(a, b)`` literal source —
    the ANSI constant-table constructor (the reference's TiDB parser
    accepts it before dropping the statement, query/parser/parser.go:
    25-45). Rides the derived-table/CTE slot; the planner materializes
    it as ONE createDataFrame whose size is bounded by the query text
    (literal rows never scan or shuffle — Spark folds them into a
    LocalRelation that broadcast-joins for free)."""

    cols: list[str]
    rows: list[list]


#: table functions the dialect's [CROSS] JOIN LATERAL accepts, with
#: their output columns. Whitelisted functions compile to pure-JVM
#: generators (posexplode — whole-stage codegen, the throughput path);
#: arbitrary Python UDTFs stay on the DataFrame/SQL API
#: (functions/udtf.py, certified as udtf_tokenize) — the flexibility
#: path, deliberately not reachable from the dialect where a user
#: would silently pay the row-at-a-time Python cost.
_LATERAL_FNS: dict[str, tuple[str, ...]] = {
    "tokenize": ("token", "pos"),
}


@dataclass
class PivotClause:
    """``PIVOT (agg(col | *) FOR key IN (v1, v2, ...))`` — long-to-wide
    reshape with an EXPLICIT value list (a dynamic pivot needs a
    driver-side distinct pass, an anti-pattern at scale; explicit
    values keep the schema static and the plan one aggregate). ANSI
    implicit grouping: every source column not referenced by the
    clause is a group key."""

    func: str  # count | sum | avg | min | max
    agg_col: str | None  # None = count(*)
    key_col: str
    values: list  # literal pivot values (strings/numbers)


@dataclass
class UnpivotClause:
    """``UNPIVOT (val FOR key IN (c1, c2, ...))`` — wide-to-long
    reshape: the named columns melt into (key, val) rows; every other
    column is an id column. NULL cells are dropped (ANSI/DuckDB
    default EXCLUDE NULLS)."""

    val_col: str
    key_col: str
    cols: list[str]


@dataclass
class SampleClause:
    """``TABLESAMPLE (p PERCENT ON key)`` — a DETERMINISTIC ~p% sample
    keyed on a content/id column's hash bucket (operators/sampling.py
    semantics), NOT Spark's row-level Bernoulli sample: per-partition
    RNG changes with partitioning, retries, and cluster size, which
    can't hash-certify and is useless for reproducible training sets.
    Monotone: the 20% sample contains the 10% sample. Compiles to one
    codegen hash+modulo filter in the scan pipeline — zero shuffle."""

    pct: float
    key_col: str


@dataclass
class BoostQuery:
    """IR #1 — the QueryOps analog (query/base/queryops.go:11-21)."""

    fields: list[FieldRef]
    domain: str
    family: str
    source_alias: str | None
    where: Expr | None
    group_by: list[FieldRef] = field(default_factory=list)
    having: Expr | None = None
    #: (ref, desc, nulls) — nulls is 'first' | 'last' | None (engine
    #: default: Spark puts NULLs first ASC / last DESC, so an explicit
    #: NULLS FIRST/LAST is the only portable ordering for nullable keys)
    order_by: list[tuple[FieldRef, bool, str | None]] = field(
        default_factory=list
    )
    limit: int | None = None
    offset: int | None = None  # LIMIT n OFFSET m — skip m rows first
    joins: list[JoinClause] = field(default_factory=list)
    star: bool = False  # SELECT * — expand to the source's columns
    distinct: bool = False  # SELECT DISTINCT — dedup the projection
    #: SELECT DISTINCT ON (k, ...) — one row per key group, chosen by
    #: the residual ORDER BY keys (postgres/DuckDB surface); ORDER BY
    #: must lead with the ON columns and add >=1 tiebreak key so the
    #: survivor is deterministic
    distinct_on: list[FieldRef] = field(default_factory=list)
    #: SELECT * EXCLUDE (col, ...) — star expansion minus the named
    #: columns (DuckDB/Snowflake surface)
    exclude: list[str] = field(default_factory=list)
    #: grouping mode: 'plain' | 'rollup' | 'cube' | 'grouping_sets'
    group_mode: str = "plain"
    #: explicit GROUP BY GROUPING SETS ((a,b),(a),()) — the per-set key
    #: lists ([] = grand total); group_by holds the deduped union of
    #: all set keys so resolution/projection machinery sees every key
    grouping_sets: list[list["FieldRef"]] | None = None
    #: (op, rhs) chain applied left-associatively: 'union' | 'union_all'
    #: | 'intersect' | 'intersect_all' | 'except' | 'except_all' — the
    #: set-operation completion of the declared query surface (the
    #: reference's SQL front has none); the _all forms are ANSI bag
    #: semantics (intersectAll/exceptAll)
    set_ops: list[tuple[str, "BoostQuery"]] = field(default_factory=list)
    #: WITH-clause named subqueries, in declaration order; a later CTE
    #: body (and the main query) may reference earlier names as plain
    #: (unqualified) FROM/JOIN sources. The reference's TiDB parser
    #: accepts CTEs before dropping the statement on the floor
    #: (query/parser/parser.go:25-45); here they plan.
    ctes: list[tuple[str, "BoostQuery"]] = field(default_factory=list)
    #: QUALIFY <pred> — filter on window-function results (the HAVING
    #: analog for analytic queries; DuckDB/Snowflake surface). Refs name
    #: select-list output columns; planned as a filter AFTER the window
    #: projection, before DISTINCT/ORDER/LIMIT.
    qualify: Expr | None = None
    #: set on a CTE BODY when its WITH was declared RECURSIVE and the
    #: body self-references: body = base UNION [ALL] recursive-core;
    #: planned as a bounded-iteration distributed fixpoint
    #: (semi-naive: the self-reference binds to the previous
    #: iteration's DELTA, matching DuckDB/postgres working-table
    #: semantics). The reference's TiDB parser accepts WITH RECURSIVE
    #: before dropping it (query/parser/parser.go:25-45).
    recursive: bool = False
    #: PIVOT/UNPIVOT table operators on the anchor source (CTE/derived
    #: tables only — plain-column sources with an explicit schema); the
    #: reshaped result feeds the rest of the query as a plain-column
    #: source. The reference's TiDB parser accepts PIVOT syntax before
    #: dropping the statement (query/parser/parser.go:25-45).
    pivot: "PivotClause | None" = None
    unpivot: "UnpivotClause | None" = None
    #: TABLESAMPLE (p PERCENT ON key) on the anchor source — a
    #: deterministic hash-bucket sample (never Bernoulli RNG)
    sample: "SampleClause | None" = None
    #: LIMIT n WITH TIES (ANSI FETCH FIRST ... WITH TIES): rows tied
    #: with the page boundary on the FULL ORDER BY key are included.
    #: Planned as a broadcast left-semi join against the DISTINCT sort
    #: keys of the top-n page — never a global rank window (which
    #: would single-partition the corpus). NOTE: BoostQuery is
    #: constructed POSITIONALLY in parse_core — new fields go at the
    #: END (this one shipped mid-list first and silently shifted
    #: joins/star into the wrong slots).
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

    #: contextual ("soft") keywords — words the r8 grammar additions
    #: reserved that older queries may use as bare column/alias names.
    #: In IDENTIFIER positions they downgrade back to plain names via
    #: name_next(), so `SELECT filter FROM d.f` keeps parsing (ADVICE
    #: r8); in CLAUSE positions (after a join source, after an
    #: aggregate call, after ORDER BY items) they keep their keyword
    #: role. Qualified refs (`a.filter`) never tokenized as keywords.
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
        import dataclasses

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

    # query := [WITH name AS ( query ) {, name AS ( query )}]
    #          core {(UNION [ALL] | INTERSECT | EXCEPT) core}
    #          [ORDER BY ...] [LIMIT n]
    # core  := SELECT fields FROM name [alias] [JOIN ...] [WHERE expr]
    #          [GROUP BY ...] [HAVING expr]
    # ``sub=True`` parses a parenthesized subquery body: the caller owns
    # the closing ')' and the eof check is skipped. WITH attaches only
    # to the top-level statement (no nested WITH inside CTE bodies or
    # subqueries — same single-level shape most engines had before
    # recursive CTEs).
    def parse_query(self, sub: bool = False) -> BoostQuery:
        saved_derived = self.derived
        self.derived = []
        ctes: list[tuple[str, BoostQuery]] = []
        if not sub and self.accept_kw("with"):
            is_recursive = self.accept_kw("recursive")
            while True:
                kind, name = self.name_next()
                if kind != "name" or "." in name:
                    raise ValueError(
                        f"WITH requires a plain (unqualified) name, got {name!r}"
                    )
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
        if "." in n:
            raise ValueError(
                f"{clause} position must be an integer, got {n}"
            )
        i = int(n)
        if not fields or not (1 <= i <= len(fields)):
            raise ValueError(
                f"{clause} {i} is out of range "
                f"(select list has {len(fields)} items)"
            )
        f = fields[i - 1]
        if f.window is not None:
            raise ValueError(f"{clause} {i} names a window-function item")
        if f.func is not None:
            if not allow_agg:
                raise ValueError(
                    f"{clause} {i} names an aggregate select item"
                )
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
                # like GROUP BY ALL, so it composes with DESC/NULLS on
                # nothing (the expansion is the whole clause)
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
                            "ORDER BY ALL needs an AS alias on every "
                            "computed/aggregate select item"
                        )
                    tgt = FieldRef((f.alias,)) if f.alias else FieldRef(f.parts)
                    order_by.append((tgt, False, None))
            else:
                while True:
                    f2 = self._ordinal_item(
                        fields or [], "ORDER BY", allow_agg=True
                    )
                    if f2 is None:
                        # ORDER BY <expression>: arithmetic / scalar-fn /
                        # CASE over select-list OUTPUT columns (compiled as
                        # a hidden sort column, dropped after the sort).
                        # Bare numbers stay ordinals; bare names stay
                        # field refs.
                        t = self.peek()
                        if (
                            t == ("op", "(")
                            or t == ("kw", "case")
                            or (
                                t[0] == "name"
                                and t[1].lower() in self._SCALAR_FUNCS
                                and self.peek2() == ("op", "(")
                            )
                        ):
                            f2 = FieldRef((), expr=self.parse_arith())
                        else:
                            f2 = self.parse_field()
                    desc = False
                    if self.accept_kw("desc"):
                        desc = True
                    else:
                        self.accept_kw("asc")
                    nulls = None
                    if self.accept_kw("nulls"):
                        # explicit NULLS FIRST/LAST — required for portable
                        # ordering of nullable keys (engines disagree on the
                        # default: Spark ties it to ASC/DESC, DuckDB defaults
                        # to NULLS LAST)
                        if self.accept_kw("first"):
                            nulls = "first"
                        elif self.accept_kw("last"):
                            nulls = "last"
                        else:
                            raise ValueError("NULLS requires FIRST or LAST")
                    order_by.append((f2, desc, nulls))
                    if not self.accept_op(","):
                        break
        limit = None
        offset = None
        ties = False
        if self.accept_kw("limit"):
            kind, v = self.next()
            if kind != "num":
                raise ValueError("LIMIT requires a number")
            limit = int(v)
            if self.peek() == ("kw", "with"):
                # LIMIT n WITH TIES (the ANSI FETCH FIRST ... WITH TIES
                # semantics): requires a deterministic ORDER BY; ties on
                # the full sort key extend the page
                self.next()
                k3, v3 = self.name_next()
                if k3 != "name" or v3.lower() != "ties":
                    raise ValueError(
                        f"expected TIES after LIMIT n WITH, got {v3!r}"
                    )
                if not order_by:
                    raise ValueError(
                        "LIMIT ... WITH TIES requires ORDER BY (ties "
                        "are defined by the sort key)"
                    )
                ties = True
            if self.accept_kw("offset"):
                if ties:
                    raise ValueError(
                        "LIMIT ... WITH TIES cannot combine with "
                        "OFFSET (the tie-extended page has no stable "
                        "row offsets)"
                    )
                k2, v2 = self.next()
                if k2 != "num":
                    raise ValueError("OFFSET requires a number")
                offset = int(v2)
        elif self._peek_name() in ("offset", "fetch") or self.peek() == (
            "kw", "offset"
        ):
            # ANSI spelling: [OFFSET m ROWS] FETCH FIRST|NEXT n
            # ROWS|ROW ONLY|WITH TIES — a pure alias for
            # LIMIT n [WITH TIES] [OFFSET m]; same planning paths
            if self.accept_kw("offset") or self._accept_name("offset"):
                k2, v2 = self.next()
                if k2 != "num":
                    raise ValueError("OFFSET requires a number")
                offset = int(v2)
                self.accept_kw("rows") or self.accept_kw("row")
            if self._accept_name("fetch"):
                if not (
                    self.accept_kw("first") or self._accept_name("next")
                ):
                    raise ValueError("FETCH takes FIRST or NEXT")
                kind, v = self.next()
                if kind != "num":
                    raise ValueError("FETCH FIRST requires a number")
                limit = int(v)
                if not (
                    self.accept_kw("rows") or self.accept_kw("row")
                ):
                    raise ValueError("FETCH FIRST n takes ROWS/ROW")
                if self._accept_name("only"):
                    pass
                elif self.peek() == ("kw", "with"):
                    self.next()
                    k3, v3 = self.name_next()
                    if k3 != "name" or v3.lower() != "ties":
                        raise ValueError(
                            f"expected TIES after WITH, got {v3!r}"
                        )
                    if not order_by:
                        raise ValueError(
                            "FETCH FIRST ... WITH TIES requires ORDER "
                            "BY (ties are defined by the sort key)"
                        )
                    if offset is not None:
                        raise ValueError(
                            "FETCH FIRST ... WITH TIES cannot combine "
                            "with OFFSET (the tie-extended page has no "
                            "stable row offsets)"
                        )
                    ties = True
                else:
                    raise ValueError(
                        "FETCH FIRST n ROWS takes ONLY or WITH TIES"
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

    def parse_core(self) -> BoostQuery:
        self.expect_kw("select")
        distinct = self.accept_kw("distinct")
        distinct_on: list[FieldRef] = []
        if distinct and self.accept_kw("on"):
            # DISTINCT ON (k, ...): one survivor per key group, picked
            # by the residual ORDER BY (postgres semantics; DuckDB runs
            # the same surface natively as the oracle)
            if not self.accept_op("("):
                raise ValueError("DISTINCT ON requires a (col [, col]) list")
            distinct_on.append(self.parse_plain_ref())
            while self.accept_op(","):
                distinct_on.append(self.parse_plain_ref())
            if not self.accept_op(")"):
                raise ValueError("unbalanced DISTINCT ON column list")
            distinct = False  # ON replaces the plain projection dedup
        star = False
        exclude: list[str] = []
        fields: list[FieldRef] = []
        if self.accept_op("*"):
            # SELECT * expands to every column of the bound source (the
            # reference REJECTS it — selectfieldparser.go:108-114 requires
            # named fields — a wart users don't expect; lifted here)
            star = True
            if self.accept_kw("exclude"):
                # SELECT * EXCLUDE (a, b) — star minus the named columns
                if not self.accept_op("("):
                    raise ValueError("EXCLUDE requires a (col [, col]) list")
                while True:
                    k2, cname = self.name_next()
                    if k2 != "name" or "." in cname:
                        raise ValueError(
                            f"EXCLUDE takes plain column names, got {cname!r}"
                        )
                    exclude.append(cname)
                    if not self.accept_op(","):
                        break
                if not self.accept_op(")"):
                    raise ValueError("unbalanced EXCLUDE column list")
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
                if lat is not None:
                    joins.append(lat)
                    continue
                jd, jf, ja = self.parse_source()
                joins.append(JoinClause(jd, jf, ja, "cross", None))
                continue
            kind = "inner"
            if self.peek() == ("kw", "inner"):
                self.next()
                self.expect_kw("join")
            elif self.accept_kw("left"):
                # LEFT/RIGHT/FULL [OUTER] JOIN — the outer completion
                # of the declared join grammar (ref parses inner/cross
                # only); NULL propagation matches the certified
                # DataFrame-path join_full_outer semantics
                kind = "left"
                self.accept_kw("outer")
                self.expect_kw("join")
            elif self.accept_kw("right"):
                kind = "right"
                self.accept_kw("outer")
                self.expect_kw("join")
            elif self.accept_kw("full"):
                kind = "full"
                self.accept_kw("outer")
                self.expect_kw("join")
            elif self.accept_kw("asof"):
                # ASOF JOIN (kdb/DuckDB/QuestDB surface): equi keys in
                # ON; the time ordering is IMPLICIT on each family's
                # canonical ts column (backward: latest right row at or
                # before the left row's ts) — the series-family
                # contract makes the ordering column unambiguous, so
                # the grammar needs no inequality clause
                kind = "asof"
                self.expect_kw("join")
            elif not self.accept_kw("join"):
                break
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
                # USING (k [, k2 ...]) — same-named equi keys. The left
                # side resolves against the ACCUMULATED left side of the
                # join chain at plan time (the first FROM/JOIN source in
                # order that actually has the column), not blindly
                # against the FROM anchor — so A JOIN B USING (k) JOIN C
                # USING (m) binds C's key to whichever of A/B carries m
                # (ADVICE r8). The empty source in the FieldRef is the
                # plan-time sentinel for that deferred resolution (no
                # real source can parse to an empty name). NB: unlike
                # ANSI USING we do NOT coalesce the key columns into one
                # output column — both prefixed columns survive; for
                # inner joins they are equal by construction.
                if not self.accept_op("("):
                    raise ValueError("USING requires a (col [, col]) list")
                right_src = ja or jf
                while True:
                    kind2, cname = self.name_next()
                    if kind2 != "name" or "." in cname:
                        raise ValueError(
                            f"USING takes plain column names, got {cname!r}"
                        )
                    pairs.append(
                        (
                            FieldRef(("", cname)),
                            FieldRef((right_src, cname)),
                        )
                    )
                    if not self.accept_op(","):
                        break
                if not self.accept_op(")"):
                    raise ValueError("unbalanced USING column list")
            else:
                self.expect_kw("on")
                # the whole ON clause parses as one expression, then
                # decomposes: name=name equality conjuncts become the
                # equi anchor (the hash-join keys); any OTHER conjunct
                # (range/theta predicates like b.ts > a.ts) rides as a
                # residual filter on the SAME hash join — never a
                # cartesian, so at least one equi pair is required
                cond = self.parse_or()
                for cj in _conjuncts(cond):
                    ch = cj.children if cj.kind == "cmp" else []
                    if (
                        cj.kind == "cmp"
                        and cj.op == "="
                        and len(ch) == 2
                        and all(
                            s.kind == "ref"
                            and s.value.func is None
                            and len(s.value.parts) >= 2
                            for s in ch
                        )
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
            joins.append(
                JoinClause(jd, jf, ja, kind, pairs, extras or None)
            )
            continue
        where = None
        if self.accept_kw("where"):
            where = self.parse_or()
        group_by: list[FieldRef] = []
        having = None
        group_mode = "plain"
        grouping_sets: list[list[FieldRef]] | None = None
        if self.accept_kw("group"):
            self.expect_kw("by")
            def _gitem() -> FieldRef:
                return self._ordinal_item(
                    fields, "GROUP BY", allow_agg=False
                ) or self.parse_field()

            if self.accept_kw("all"):
                # GROUP BY ALL (DuckDB ergonomics): every select item
                # that is not an aggregate/window call becomes a group
                # key — plain refs directly, computed items via their
                # AS alias (same rule as explicit computed group keys)
                for f in fields:
                    if f.func is not None or f.window is not None:
                        continue
                    if f.expr is not None:
                        group_by.append(FieldRef((f.alias,)))
                    else:
                        group_by.append(FieldRef(f.parts, alias=None))
                if not group_by:
                    raise ValueError(
                        "GROUP BY ALL found no non-aggregate select "
                        "items to group by"
                    )
            elif self.peek() in (("kw", "rollup"), ("kw", "cube")):
                _, group_mode = self.next()
                if not self.accept_op("("):
                    raise ValueError(f"{group_mode.upper()} requires (cols)")
                group_by.append(_gitem())
                while self.accept_op(","):
                    group_by.append(_gitem())
                if not self.accept_op(")"):
                    raise ValueError(f"unbalanced {group_mode.upper()} list")
            elif (
                self.peek()[0] == "name"
                and self.peek()[1].lower() == "grouping"
                and self.peek2() is not None
                and self.peek2()[0] == "name"
                and self.peek2()[1].lower() == "sets"
            ):
                # GROUP BY GROUPING SETS ((a,b),(a),()) — explicit set
                # lists, one Expand pass (r8-verdict ask #4). 'grouping'
                # and 'sets' stay plain names everywhere else (the
                # grouping() disambiguator function keeps working).
                self.next()
                self.next()
                group_mode = "grouping_sets"
                if not self.accept_op("("):
                    raise ValueError(
                        "GROUPING SETS requires ((cols), (cols), ...)"
                    )
                grouping_sets = []
                while True:
                    if not self.accept_op("("):
                        raise ValueError(
                            "each grouping set must be a "
                            "parenthesized (possibly empty) column list"
                        )
                    cur: list[FieldRef] = []
                    if not self.accept_op(")"):
                        cur.append(_gitem())
                        while self.accept_op(","):
                            cur.append(_gitem())
                        if not self.accept_op(")"):
                            raise ValueError(
                                "unbalanced grouping-set column list"
                            )
                    grouping_sets.append(cur)
                    if not self.accept_op(","):
                        break
                if not self.accept_op(")"):
                    raise ValueError("unbalanced GROUPING SETS list")
                for s in grouping_sets:
                    for item in s:
                        if item not in group_by:
                            group_by.append(item)
                if not group_by:
                    raise ValueError(
                        "GROUPING SETS needs at least one non-empty set"
                    )
            else:
                group_by.append(_gitem())
                while self.accept_op(","):
                    group_by.append(_gitem())
            if self.accept_kw("having"):
                having = self.parse_or()
        # WINDOW w AS (spec) [, w2 AS (spec)] — named windows (ANSI):
        # one declaration shared by every OVER w in the select list, so
        # repeated analytic specs cannot drift apart. Names resolve
        # AFTER the clause parses (OVER w is a forward reference).
        if self.accept_kw("window"):
            named: dict[str, WindowSpec] = {}
            while True:
                kw, wname = self.name_next()
                if kw != "name" or "." in wname:
                    raise ValueError("WINDOW requires: WINDOW name AS (spec)")
                if wname in named:
                    raise ValueError(f"duplicate WINDOW name {wname!r}")
                self.expect_kw("as")
                named[wname] = self.parse_window()
                if not self.accept_op(","):
                    break
            for f in fields:
                w = f.window
                if w is not None and w.pending_name is not None:
                    if w.pending_name not in named:
                        raise ValueError(
                            f"OVER {w.pending_name} names no WINDOW "
                            f"clause (declared: {sorted(named)})"
                        )
                    f.window = named[w.pending_name]
        unresolved = [
            f.window.pending_name
            for f in fields
            if f.window is not None and f.window.pending_name is not None
        ]
        if unresolved:
            raise ValueError(
                f"OVER {unresolved[0]} names no WINDOW clause in this query"
            )
        qualify = None
        if self.accept_kw("qualify"):
            # QUALIFY binds per-core (like HAVING), before any set-op /
            # statement-level ORDER BY — it filters the window-function
            # projection by its select-list output names
            qualify = self.parse_or()
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
            k2, fn = self.name_next()
            if k2 != "name" or fn.lower() not in self._AGG_FUNCS:
                raise ValueError(
                    "PIVOT requires an aggregate: "
                    f"PIVOT (agg(col) FOR key IN (...)), agg one of "
                    f"{sorted(self._AGG_FUNCS)}"
                )
            fn = fn.lower()
            if not self.accept_op("("):
                raise ValueError(f"PIVOT {fn} requires an argument list")
            agg_col = None
            if self.accept_op("*"):
                if fn != "count":
                    raise ValueError(f"{fn}(*) is not valid; only count(*)")
            else:
                k3, cname = self.name_next()
                if k3 != "name" or "." in cname:
                    raise ValueError(
                        "PIVOT aggregate takes a plain column name"
                    )
                agg_col = cname
            if not self.accept_op(")"):
                raise ValueError(f"unbalanced parenthesis in PIVOT {fn}(...)")
            k4, forkw = self.name_next()
            if k4 != "name" or forkw.lower() != "for":
                raise ValueError("PIVOT requires FOR <col> IN (...)")
            k5, keycol = self.name_next()
            if k5 != "name" or "." in keycol:
                raise ValueError("PIVOT FOR takes a plain column name")
            if not self.accept_kw("in"):
                raise ValueError("PIVOT requires FOR <col> IN (...)")
            if not self.accept_op("("):
                raise ValueError("PIVOT IN requires a (literal, ...) list")
            values = [self._reshape_lit()]
            while self.accept_op(","):
                values.append(self._reshape_lit())
            if not self.accept_op(")"):
                raise ValueError("unbalanced PIVOT IN value list")
            if not self.accept_op(")"):
                raise ValueError("unbalanced PIVOT clause parenthesis")
            return PivotClause(fn, agg_col, keycol, values), None
        # UNPIVOT (val FOR key IN (c1, c2, ...))
        k2, valcol = self.name_next()
        if k2 != "name" or "." in valcol:
            raise ValueError(
                "UNPIVOT requires: UNPIVOT (val FOR key IN (col, ...))"
            )
        k3, forkw = self.name_next()
        if k3 != "name" or forkw.lower() != "for":
            raise ValueError("UNPIVOT requires FOR <key> IN (col, ...)")
        k4, keycol = self.name_next()
        if k4 != "name" or "." in keycol:
            raise ValueError("UNPIVOT FOR takes a plain name")
        if not self.accept_kw("in"):
            raise ValueError("UNPIVOT requires FOR <key> IN (col, ...)")
        if not self.accept_op("("):
            raise ValueError("UNPIVOT IN requires a (col, ...) list")
        cols = []
        while True:
            k5, cname = self.name_next()
            if k5 != "name" or "." in cname:
                raise ValueError(
                    f"UNPIVOT IN takes plain column names, got {cname!r}"
                )
            cols.append(cname)
            if not self.accept_op(","):
                break
        if not self.accept_op(")"):
            raise ValueError("unbalanced UNPIVOT IN column list")
        if not self.accept_op(")"):
            raise ValueError("unbalanced UNPIVOT clause parenthesis")
        return None, UnpivotClause(valcol, keycol, cols)

    def _reshape_lit(self):
        kind, v = self.next()
        if kind == "op" and v == "-":
            k2, v2 = self.next()
            if k2 != "num":
                raise ValueError(f"expected number after '-', got {v2!r}")
            return -(float(v2) if "." in v2 else int(v2))
        if kind == "num":
            return float(v) if "." in v else int(v)
        if kind == "str":
            return v
        raise ValueError(
            f"PIVOT IN list takes string/number literals, got {v!r}"
        )

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
        k2, pkw = self.name_next()
        if k2 != "name" or pkw.lower() != "percent":
            raise ValueError(
                "TABLESAMPLE requires PERCENT (rows-count sampling is "
                "not deterministic under distribution; use LIMIT over "
                "an ORDER for top-n)"
            )
        k3, onkw = self.next()
        if (k3, onkw) != ("kw", "on"):
            raise ValueError(
                "TABLESAMPLE requires ON <key column> — the hash key "
                "that makes the sample reproducible (Bernoulli RNG "
                "sampling cannot be certified against an oracle)"
            )
        k4, keycol = self.name_next()
        if k4 != "name" or "." in keycol:
            raise ValueError("TABLESAMPLE ON takes a plain column name")
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
        kind2, fn = self.name_next()
        if kind2 != "name" or "." in fn:
            raise ValueError("LATERAL requires a table-function call fn(...)")
        fn = fn.lower()
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
        kind3, alias = self.name_next()
        if kind3 != "name" or "." in alias:
            raise ValueError(
                "LATERAL table function requires a row alias: "
                "JOIN LATERAL fn(arg) t"
            )
        return JoinClause(
            "", fn, alias, "lateral", None, lateral_arg=arg
        )

    def _values_literal(self):
        """One literal cell inside (VALUES ...): number (optionally
        signed), string, TRUE/FALSE/NULL."""
        neg = self.accept_op("-")
        kind, v = self.next()
        if kind == "num":
            x = float(v) if "." in v else int(v)
            return -x if neg else x
        if neg:
            raise ValueError(f"unary minus before non-number {v!r} in VALUES")
        if kind == "str":
            return v
        if kind == "kw" and v in ("true", "false"):
            return v == "true"
        if kind == "kw" and v == "null":
            return None
        raise ValueError(
            f"VALUES cells are literals (number/string/true/false/null), "
            f"got {v!r}"
        )

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
        kind, alias = self.name_next()
        if kind != "name" or "." in alias:
            raise ValueError("VALUES requires a table alias: (VALUES ...) t(a, b)")
        if not self.accept_op("("):
            raise ValueError(
                "VALUES requires an explicit column list: (VALUES ...) "
                "t(a, b) — literal rows have no canonical names"
            )
        cols: list[str] = []
        while True:
            k2, cname = self.name_next()
            if k2 != "name" or "." in cname:
                raise ValueError(f"expected column name in VALUES list, got {cname!r}")
            cols.append(cname)
            if not self.accept_op(","):
                break
        if not self.accept_op(")"):
            raise ValueError("unbalanced VALUES column list")
        bad = [r for r in rows if len(r) != len(cols)]
        if bad:
            raise ValueError(
                f"VALUES row has {len(bad[0])} cells but the column list "
                f"names {len(cols)}"
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
            # derived table ``( SELECT ... ) alias`` — an ANONYMOUS CTE:
            # the body parses like any subquery, gets a unique internal
            # name, and rides the exact WITH-clause planning path
            # (plain-column source, its own pushed scans)
            body = self.parse_query(sub=True)
            if not self.accept_op(")"):
                raise ValueError("unbalanced derived-table parenthesis")
            if self.peek()[0] != "name":
                raise ValueError(
                    "derived table requires an alias: ( SELECT ... ) name"
                )
            alias = self.next()[1]
            name = f"__dt{self._dt_n}"
            self._dt_n += 1
            self.derived.append((name, body))
            return "", name, alias
        kind, src = self.name_next()
        if kind != "name":
            raise ValueError(f"expected source name, got {src!r}")
        parts = src.split(".")
        if len(parts) == 1:
            # a bare name is only legal as a WITH-clause reference; the
            # planner validates it against the declared CTEs and keeps
            # the qualified-source rule (parser.go:36-38) otherwise.
            # domain "" is the CTE sentinel.
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

    def parse_on_ref(self) -> FieldRef:
        kind, v = self.next()
        if kind != "name" or "." not in v:
            raise ValueError(f"ON requires source.column refs, got {v!r}")
        return FieldRef(tuple(v.split(".")))

    _AGG_FUNCS = ("count", "sum", "avg", "min", "max")
    #: statistical aggregates -> canonical (Spark-native) name.
    #: stddev/variance are the _samp ANSI defaults, as in DuckDB/Spark.
    _STAT_AGGS = {
        "stddev": "stddev_samp", "stddev_samp": "stddev_samp",
        "stddev_pop": "stddev_pop",
        "variance": "var_samp", "var_samp": "var_samp",
        "var_pop": "var_pop",
        "corr": "corr",
        "covar_samp": "covar_samp", "covar_pop": "covar_pop",
    }
    _RANK_FUNCS = (
        "rank", "dense_rank", "row_number", "percent_rank", "cume_dist",
        "ntile",
    )
    _NAV_FUNCS = ("lag", "lead", "first_value", "last_value")
    #: whitelisted scalar functions — a name followed by '(' parses as
    #: a call (winning over a same-named series); everything compiles
    #: to built-in Catalyst expressions (functions/scalar.py carries
    #: the wider DataFrame-level library; this is the dialect subset)
    _SCALAR_FUNCS = frozenset({
        "abs", "sqrt", "floor", "ceil", "round", "upper", "lower",
        "length", "trim", "coalesce", "concat", "substring",
        "year", "month", "day", "hour", "minute", "date_trunc",
        "cast",  # CAST(expr AS type) — special-cased in parse_operand
        "extract",  # EXTRACT(unit FROM expr) — ditto
        "nullif", "greatest", "least", "ltrim", "rtrim", "replace",
        "reverse",
    })

    def parse_select_item(self) -> FieldRef:
        """A select-list item: a (possibly windowed/aggregate) field,
        or a computed arithmetic expression over sugared refs, scalar
        function calls and literals — the projection the reference
        rejects outright (selectfieldparser.go:90-99). Computed items
        require AS."""
        t = self.peek()
        if (
            t[0] in ("num", "str", "param")
            or t == ("op", "(")
            or t == ("op", "-")
            or t == ("kw", "case")
            or (
                t[0] == "name"
                and t[1].lower() in self._SCALAR_FUNCS
                and self.peek2() == ("op", "(")
            )
        ):
            return self._finish_computed(self.parse_arith())
        mark = self.i
        f = self.parse_field()
        nxt = self.peek()
        if (
            f.alias is None
            and nxt[0] == "op"
            and nxt[1] in ("+", "-", "*", "/", "%")
            and (
                f.func is None
                or (
                    f.window is None
                    and f.filter_expr is None
                    and not f.within_group
                    and f.arg_expr is None
                    and f.func.removesuffix("_distinct") in self._AGG_FUNCS
                )
            )
        ):
            # plain ref OR plain-column aggregate call followed by an
            # arithmetic operator: re-parse the whole item as an
            # expression (the ref/agg becomes its first operand, same
            # sugar resolution). This is what lets sum(a)/sum(b) ratio
            # aggregates parse — the operand grammar re-parses the
            # aggregate call (plain column args only, like HAVING).
            self.i = mark
            return self._finish_computed(self.parse_arith())
        return f

    def _finish_computed(self, expr: Expr) -> FieldRef:
        alias = None
        if self.accept_kw("as"):
            k2, a = self.name_next()
            if k2 != "name":
                raise ValueError("expected alias after AS")
            alias = a
        if alias is None:
            raise ValueError(
                "computed select expressions require AS <name> "
                "(there is no canonical sugar name for them)"
            )
        return FieldRef((), alias=alias, expr=expr)

    def parse_field(self) -> FieldRef:
        kind, v = self.name_next()
        if kind != "name":
            raise ValueError(f"expected field name, got {v!r} (explicit names required, selectfieldparser.go:108-114)")
        func = None
        arg_expr: Expr | None = None
        arg2_expr: Expr | None = None
        within_group: list[tuple[FieldRef, bool]] | None = None
        sep = ","
        parts: tuple[str, ...] = tuple(v.split("."))
        if v.lower() in self._AGG_FUNCS and self.accept_op("("):
            func = v.lower()
            if self.accept_op("*"):
                if func != "count":
                    raise ValueError(f"{func}(*) is not valid; only count(*)")
                parts = ()
            else:
                if self.accept_kw("distinct"):
                    # agg(DISTINCT col) for all five aggregates — the
                    # reference's TiDB parser accepts these before
                    # dropping the statement (query/parser/parser.go:
                    # 25-45). min/max(DISTINCT) compile to plain
                    # min/max (dedup is a no-op for extrema).
                    func = f"{func}_distinct"
                e = self.parse_arith()
                if e.kind == "ref" and e.value.func is None:
                    parts = e.value.parts  # plain column argument
                else:
                    # expression argument: sum(floor(x*100+0.5)), ...
                    if any(r.func for r in _expr_refs(e)):
                        raise ValueError(
                            "nested aggregate calls are not supported"
                        )
                    if func in ("count_distinct", "avg_distinct"):
                        # no expression form in the Column API for
                        # these; sum/min/max(DISTINCT expr) compile fine
                        raise ValueError(
                            f"{func[:-9]}(DISTINCT ...) takes a plain "
                            "column"
                        )
                    arg_expr = e
                    parts = ()
            if not self.accept_op(")"):
                raise ValueError(f"unbalanced parenthesis in {func}(...)")
        elif v.lower() in ("string_agg", "listagg") and self.accept_op("("):
            # ordered-set aggregate: string_agg(x[, 'sep']) WITHIN GROUP
            # (ORDER BY k [ASC|DESC], ...) — ANSI listagg spelling (the
            # reference's TiDB parser accepts the call before dropping
            # the statement, query/parser/parser.go:25-45). WITHIN GROUP
            # is REQUIRED: an unordered concatenation is
            # nondeterministic under any distributed execution.
            func = "string_agg"
            e = self.parse_arith()
            if e.kind == "ref" and e.value.func is None:
                parts = e.value.parts
            else:
                if any(r.func for r in _expr_refs(e)):
                    raise ValueError(
                        "nested aggregate calls are not supported"
                    )
                arg_expr = e
                parts = ()
            if self.accept_op(","):
                ks, sv = self.next()
                if ks != "str":
                    raise ValueError(
                        "string_agg separator must be a string literal"
                    )
                sep = sv
            if not self.accept_op(")"):
                raise ValueError("unbalanced parenthesis in string_agg(...)")
            if not self.accept_kw("within"):
                raise ValueError(
                    "string_agg/listagg requires WITHIN GROUP "
                    "(ORDER BY ...) — unordered concatenation is "
                    "nondeterministic on a distributed engine"
                )
            self.expect_kw("group")
            if not self.accept_op("("):
                raise ValueError("WITHIN GROUP requires (ORDER BY ...)")
            self.expect_kw("order")
            self.expect_kw("by")
            within_group = []
            while True:
                r = self.parse_plain_ref()
                d = False
                if self.accept_kw("desc"):
                    d = True
                else:
                    self.accept_kw("asc")
                within_group.append((r, d))
                if not self.accept_op(","):
                    break
            if not self.accept_op(")"):
                raise ValueError("unbalanced WITHIN GROUP (ORDER BY ...)")
        elif v.lower() in (
            "bool_and", "bool_or", "every"
        ) and self.accept_op("("):
            # ANSI boolean aggregates over a PREDICATE argument:
            # bool_and/every(pred), bool_or(pred) — the TiDB grammar
            # the reference embeds accepts them before dropping the
            # statement (query/parser/parser.go:25-45). The argument
            # parses as a full boolean expression (comparisons,
            # AND/OR, IS NULL, ...), not just arithmetic; lowers to
            # Spark's native bool_and/bool_or hash aggregates.
            func = "bool_and" if v.lower() in ("bool_and", "every") else "bool_or"
            arg_expr = self.parse_or()
            parts = ()
            if not self.accept_op(")"):
                raise ValueError(f"unbalanced parenthesis in {func}(...)")
        elif v.lower() in self._STAT_AGGS and self.accept_op("("):
            # statistical aggregates: one-arg stddev/variance family
            # and two-arg corr/covar — lowered to Spark's native
            # Welford-style aggregates (one partial+final pass).
            # Cross-engine hash certification requires a rounding
            # fence (different engines accumulate central moments in
            # different orders); the suite entry rounds 3dp.
            func = self._STAT_AGGS[v.lower()]
            arg_expr = self.parse_arith()
            parts = ()
            if func in ("corr", "covar_samp", "covar_pop"):
                if not self.accept_op(","):
                    raise ValueError(f"{func}(x, y) takes two arguments")
                arg2_expr = self.parse_arith()
            if not self.accept_op(")"):
                raise ValueError(f"unbalanced parenthesis in {func}(...)")
        elif v.lower() in (
            "max_by", "min_by", "arg_max", "arg_min"
        ) and self.accept_op("("):
            # two-argument argmax aggregates: ``max_by(x, y)`` returns
            # the x of the row with the maximal y (``arg_max`` is the
            # DuckDB/ClickHouse spelling), ``min_by``/``arg_min`` the
            # minimal-y twin. Lowers to Spark's NATIVE max_by/min_by
            # hash aggregates (one partial+final pass, O(1) per-group
            # state — the window row_number()=1 form pays a per-group
            # sort instead). Rows with a NULL order operand are
            # ignored, matching both engines. TIES on y are
            # engine-unspecified everywhere; use a unique order key
            # for deterministic results.
            func = "max_by" if v.lower() in ("max_by", "arg_max") else "min_by"
            arg_expr = self.parse_arith()
            if not self.accept_op(","):
                raise ValueError(f"{func}(x, y) takes exactly two arguments")
            arg2_expr = self.parse_arith()
            parts = ()
            if not self.accept_op(")"):
                raise ValueError(f"unbalanced parenthesis in {func}(...)")
        elif v.lower() in (
            "percentile_cont", "percentile_disc"
        ) and self.accept_op("("):
            # ANSI inverse-distribution aggregates:
            # ``percentile_cont(f) WITHIN GROUP (ORDER BY k [ASC|DESC])``
            # (continuous / interpolated) and ``percentile_disc`` (the
            # first value whose cume_dist >= f). The reference's TiDB
            # parser accepts the calls before dropping the statement
            # (query/parser/parser.go:25-45); here they lower to Spark's
            # native percentile_cont/percentile_disc aggregate
            # expressions. ANSI allows exactly ONE sort key.
            func = v.lower()
            kn, nv = self.next()
            if kn != "num" or not (0.0 <= float(nv) <= 1.0):
                raise ValueError(
                    f"{func}(f) requires a numeric literal fraction "
                    "in [0, 1]"
                )
            arg_expr = Expr("lit", value=float(nv))
            parts = ()
            if not self.accept_op(")"):
                raise ValueError(f"unbalanced parenthesis in {func}(...)")
            if not self.accept_kw("within"):
                raise ValueError(
                    f"{func} requires WITHIN GROUP (ORDER BY <col>) — "
                    "an inverse-distribution aggregate has no meaning "
                    "without an ordering"
                )
            self.expect_kw("group")
            if not self.accept_op("("):
                raise ValueError("WITHIN GROUP requires (ORDER BY ...)")
            self.expect_kw("order")
            self.expect_kw("by")
            r = self.parse_plain_ref()
            d = False
            if self.accept_kw("desc"):
                d = True
            else:
                self.accept_kw("asc")
            within_group = [(r, d)]
            if self.accept_op(","):
                raise ValueError(
                    f"{func} takes exactly one WITHIN GROUP sort key "
                    "(ANSI inverse-distribution aggregates are "
                    "single-keyed)"
                )
            if not self.accept_op(")"):
                raise ValueError("unbalanced WITHIN GROUP (ORDER BY ...)")
        elif v.lower() in self._RANK_FUNCS and self.accept_op("("):
            func = v.lower()
            parts = ()
            if func == "ntile":
                kn, nv = self.next()
                if kn != "num" or "." in nv or int(nv) < 1:
                    raise ValueError(
                        "ntile(n) requires a positive integer literal"
                    )
                arg_expr = Expr("lit", value=int(nv))
            if not self.accept_op(")"):
                if func == "ntile":
                    raise ValueError("unbalanced parenthesis in ntile(n)")
                raise ValueError(f"{func}() takes no arguments")
        elif v.lower() in self._NAV_FUNCS and self.accept_op("("):
            func = v.lower()
            k2, inner = self.name_next()
            if k2 != "name":
                raise ValueError(f"expected column in {func}(...), got {inner!r}")
            parts = tuple(inner.split("."))
            if not self.accept_op(")"):
                raise ValueError(f"unbalanced parenthesis in {func}(...)")
        ignore_nulls = False
        if func is not None and (
            self.peek() == ("kw", "ignore") or self.peek() == ("kw", "respect")
        ):
            # ANSI trailing null-treatment: fn(col) IGNORE NULLS OVER w —
            # the LOCF/gap-fill navigation modifier. Spark exposes the
            # flag on first/last only, so lag/lead refuse loudly rather
            # than silently treating nulls as values.
            mode = self.next()[1]
            self.expect_kw("nulls")
            if func not in ("first_value", "last_value"):
                raise ValueError(
                    f"{mode.upper()} NULLS is supported on first_value/"
                    "last_value only (Spark's lag/lead do not expose "
                    "null treatment); for gap-fill use last_value(col) "
                    "IGNORE NULLS over a preceding frame"
                )
            ignore_nulls = mode == "ignore"
        filter_expr = None
        if (
            func is not None
            and (
                func.removesuffix("_distinct") in self._AGG_FUNCS
                or func in ("bool_and", "bool_or", "max_by", "min_by")
                or func in self._STAT_AGGS.values()
            )
            and self.accept_kw("filter")
        ):
            # ANSI aggregate FILTER clause: agg(x) FILTER (WHERE pred)
            if not self.accept_op("("):
                raise ValueError("FILTER requires (WHERE <predicate>)")
            self.expect_kw("where")
            filter_expr = self.parse_or()
            if not self.accept_op(")"):
                raise ValueError("unbalanced FILTER (WHERE ...) clause")
        window = None
        if func is not None and self.accept_kw("over"):
            if self.peek()[0] in ("name", "kw") and self.peek() != ("op", "("):
                # OVER w — reference to a named WINDOW clause declared
                # later in the statement; resolved after parse_core
                kindw, wname = self.name_next()
                if kindw != "name":
                    raise ValueError(
                        f"OVER takes a (spec) or a window name, got {wname!r}"
                    )
                window = WindowSpec()
                window.pending_name = wname
            else:
                window = self.parse_window()
        if window is not None and filter_expr is not None:
            raise ValueError(
                "FILTER is supported on plain aggregates, not on "
                "window functions"
            )
        if window is not None and func in (
            "string_agg", "percentile_cont", "percentile_disc",
            "bool_and", "bool_or", "max_by", "min_by",
            "corr", "covar_samp", "covar_pop",
        ):
            raise ValueError(
                f"{func} is a grouped aggregate in this "
                "dialect, not a window function"
            )
        if window is None and func in (*self._RANK_FUNCS, *self._NAV_FUNCS):
            raise ValueError(f"{func}() requires an OVER (...) clause")
        alias = None
        if self.accept_kw("as"):
            k2, a = self.name_next()
            if k2 != "name":
                raise ValueError("expected alias after AS")
            alias = a
        if arg_expr is not None and alias is None:
            raise ValueError(
                f"{func}(<expression>) requires AS <name> (no canonical "
                "sugar name for an expression argument)"
            )
        if filter_expr is not None and alias is None:
            raise ValueError(
                "agg(...) FILTER (WHERE ...) requires AS <name>"
            )
        if func == "string_agg" and alias is None:
            raise ValueError("string_agg(...) requires AS <name>")
        return FieldRef(
            parts, alias, func, window, arg_expr=arg_expr,
            arg2_expr=arg2_expr,
            filter_expr=filter_expr, ignore_nulls=ignore_nulls,
            within_group=within_group, sep=sep,
        )

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
            while True:
                ref = self.parse_plain_ref()
                desc = False
                if self.accept_kw("desc"):
                    desc = True
                else:
                    self.accept_kw("asc")
                spec.order_by.append((ref, desc))
                if not self.accept_op(","):
                    break
        if self.accept_kw("rows"):
            self.expect_kw("between")
            lo = self.parse_frame_bound(start=True)
            self.expect_kw("and")
            hi = self.parse_frame_bound(start=False)
            spec.frame = (lo, hi)
        elif self.accept_kw("range"):
            # RANGE BETWEEN INTERVAL '<n>' <unit> PRECEDING ... — the
            # trailing-time-window idiom this engine exists for
            # (r8-verdict ask #5). Bounds are ns deltas applied via
            # rangeBetween over the canonical ns time column; bare
            # numeric RANGE offsets are refused (their unit would
            # silently depend on the ORDER BY column's representation).
            self.expect_kw("between")
            lo = self.parse_range_bound()
            self.expect_kw("and")
            hi = self.parse_range_bound()
            spec.frame = (lo, hi)
            spec.frame_type = "range_ns"
        elif self.accept_kw("groups"):
            # ANSI GROUPS mode: bounds count PEER GROUPS (distinct
            # ORDER BY values), not rows — CURRENT ROW means the whole
            # peer group of the current row on both ends. Spark has no
            # native GROUPS frame; the planner lowers it to
            # rangeBetween over a dense_rank() of the ORDER BY key
            # (rank distance == group distance, same one-shuffle sort).
            self.expect_kw("between")
            lo = self.parse_frame_bound(start=True)
            self.expect_kw("and")
            hi = self.parse_frame_bound(start=False)
            spec.frame = (lo, hi)
            spec.frame_type = "groups"
        if spec.frame is not None and self.accept_kw("exclude"):
            # ANSI frame exclusion. EXCLUDE NO OTHERS parses to the
            # None default (explicit spelling of the default behavior).
            if self.accept_kw("current"):
                self.expect_kw("row")
                spec.exclude = "current"
            elif self.accept_kw("group"):
                spec.exclude = "group"
            else:
                # TIES / NO OTHERS are plain-name tokens (not worth
                # reserving: single-use words in one clause position)
                kind, v = self.name_next()
                word = v.lower() if kind == "name" else ""
                if word == "ties":
                    spec.exclude = "ties"
                elif word == "no":
                    k2, v2 = self.name_next()
                    if k2 != "name" or v2.lower() != "others":
                        raise ValueError(
                            f"expected OTHERS after EXCLUDE NO, got {v2!r}"
                        )
                else:
                    raise ValueError(
                        "EXCLUDE takes CURRENT ROW, GROUP, TIES, or "
                        "NO OTHERS"
                    )
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
        """One bound of RANGE BETWEEN: UNBOUNDED PRECEDING/FOLLOWING,
        CURRENT ROW, or INTERVAL '<n>' <unit> PRECEDING/FOLLOWING with
        unit in second/minute/hour/day — returned as a signed ns
        delta."""
        UNB = (1 << 63) - 1
        if self.accept_kw("unbounded"):
            if self.accept_kw("preceding"):
                return -UNB
            self.expect_kw("following")
            return UNB
        if self.accept_kw("current"):
            self.expect_kw("row")
            return 0
        kind, v = self.next()
        if kind != "name" or v.lower() != "interval":
            raise ValueError(
                "RANGE frame bounds take INTERVAL '<n>' <unit> (or "
                f"UNBOUNDED/CURRENT ROW), got {v!r}"
            )
        k2, num = self.next()
        if k2 not in ("str", "num") or not str(num).isdigit():
            raise ValueError(
                f"INTERVAL takes a whole-number literal, got {num!r}"
            )
        k3, unit = self.name_next()
        u = unit.lower().rstrip("s") if k3 == "name" else ""
        if u not in self._INTERVAL_NS:
            raise ValueError(
                f"INTERVAL unit must be one of "
                f"{sorted(self._INTERVAL_NS)} (got {unit!r})"
            )
        ns = int(num) * self._INTERVAL_NS[u]
        if self.accept_kw("preceding"):
            return -ns
        self.expect_kw("following")
        return ns

    def parse_frame_bound(self, start: bool) -> int:
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
            # '(' is ambiguous: boolean grouping or arithmetic grouping.
            # If an arithmetic/comparison operator follows, the
            # parenthesized expression was an arithmetic operand —
            # continue the arithmetic and optional comparison from it.
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
                # IN (SELECT ...) — the reference DECLARED subqueries as
                # Aggregate-returning expressions (query/base/
                # expression.go:16-18) but never planned them; honored
                # here through the dialect front as a semi-join.
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
            # case-insensitive LIKE (DuckDB/postgres surface; Spark's
            # Column.ilike). Contextual name: only recognized in
            # predicate-operator position, so columns named ilike keep
            # resolving
            self.next()
            pat = self.parse_operand()
            e = Expr("ilike", children=[operand, pat])
        else:
            # bare boolean operand
            e = operand
        return Expr("not", children=[e]) if negated else e

    def parse_case(self) -> Expr:
        """CASE expression, both SQL forms:

        - searched: ``CASE WHEN <bool> THEN <expr> ... [ELSE <expr>] END``
        - simple:   ``CASE <expr> WHEN <val> THEN <expr> ... [ELSE] END``

        Compiles to a Catalyst ``CaseWhen`` chain (F.when/otherwise) —
        pure codegen, usable anywhere an operand is: SELECT projections
        (with AS), WHERE predicates, aggregate/window arguments
        (``sum(CASE WHEN ... END)`` is the conditional-aggregation
        idiom). Children layout: simple form leads with the subject
        expr; then (cond, value) pairs; an odd pair-tail is the ELSE."""
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

    # arithmetic in predicate operands: expr := term (('+'|'-') term)*,
    # term := factor (('*'|'/') factor)* — the computed-expression
    # surface the reference's field list rejects outright
    # (selectfieldparser.go:90-99); WHERE-side arithmetic composes with
    # every comparison/placeholder form.
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
        if self.peek() == ("op", "(") and self.peek2() != ("kw", "select"):
            self.next()
            e = self.parse_arith()
            if not self.accept_op(")"):
                raise ValueError("unbalanced parenthesis in expression")
            return e
        if self.peek() == ("op", "(") and self.peek2() == ("kw", "select"):
            # scalar subquery operand: (SELECT agg(...) FROM ...)
            self.next()
            subq = self.parse_query(sub=True)
            if not self.accept_op(")"):
                raise ValueError("unbalanced subquery parenthesis")
            return Expr("subquery", value=subq)
        kind, v = self.name_next()
        if kind == "param":
            # named-placeholder literal — the reference's parameterized
            # literal machinery (query/base/literalintexpression.go:9-113
            # binds a named hole via Evaluate(arg); expressionstate.go:6-19
            # carries the binding). Resolved from the params dict at plan
            # time, so one parsed query re-executes with new bindings.
            return Expr("param", value=v)
        if kind == "op" and v == "-":
            # unary minus on a numeric literal (the dialect has no
            # arithmetic, so '-' only occurs in operand position)
            k2, v2 = self.next()
            if k2 != "num":
                raise ValueError(f"expected number after '-', got {v2!r}")
            return Expr("lit", value=-(float(v2) if "." in v2 else int(v2)))
        if kind == "num":
            # SQL decimals coerce to float64, ints to int64
            # (whereparser.go:223-246)
            return Expr("lit", value=float(v) if "." in v else int(v))
        if kind == "str":
            return Expr("lit", value=v)
        if kind == "kw" and v in ("true", "false"):
            return Expr("lit", value=(v == "true"))
        if kind == "kw" and v == "null":
            return Expr("lit", value=None)
        if kind == "name":
            # CAST(expr AS type) — ANSI cast with its own AS-infix syntax
            # (the reference's TiDB parser accepts CAST before dropping
            # the statement, query/parser/parser.go:25-45). Target types
            # are whitelisted to the cross-engine-safe set; note DuckDB
            # CAST(DOUBLE AS BIGINT) ROUNDS while Spark truncates, so a
            # double->bigint cast only hash-certifies on integral values
            # (e.g. a floor() result) — documented in _CAST_TYPES.
            if v.lower() == "cast" and self.peek() == ("op", "("):
                self.next()
                inner = self.parse_arith()
                k2, kw = self.next()
                if (k2, kw) != ("kw", "as"):
                    raise ValueError("CAST requires 'AS <type>'")
                k3, ty = self.name_next()
                if k3 != "name" or ty.lower() not in _CAST_TYPES:
                    raise ValueError(
                        f"unsupported CAST target {ty!r}; one of "
                        f"{sorted(_CAST_TYPES)}"
                    )
                if not self.accept_op(")"):
                    raise ValueError("unbalanced parenthesis in CAST(...)")
                return Expr("cast", op=_CAST_TYPES[ty.lower()], children=[inner])
            # EXTRACT(unit FROM expr) — ANSI sugar for the date-part
            # functions (year/month/day/hour/minute); compiles to the
            # same _FN_IMPL entries, so the two spellings cannot drift
            if v.lower() == "extract" and self.peek() == ("op", "("):
                self.next()
                ku, unit = self.name_next()
                if ku != "name" or unit.lower() not in (
                    "year", "month", "day", "hour", "minute"
                ):
                    raise ValueError(
                        f"EXTRACT unit must be one of year/month/day/"
                        f"hour/minute, got {unit!r}"
                    )
                kf, fkw = self.next()
                if (kf, fkw) != ("kw", "from"):
                    raise ValueError("EXTRACT requires 'unit FROM expr'")
                inner = self.parse_arith()
                if not self.accept_op(")"):
                    raise ValueError("unbalanced parenthesis in EXTRACT(...)")
                return Expr("fn", op=unit.lower(), children=[inner])
            # scalar function call — name followed by '(' wins over a
            # same-named series; args are full arithmetic expressions
            if v.lower() in self._SCALAR_FUNCS and self.peek() == ("op", "("):
                self.next()
                fn = v.lower()
                args = [self.parse_arith()]
                while self.accept_op(","):
                    args.append(self.parse_arith())
                if not self.accept_op(")"):
                    raise ValueError(f"unbalanced parenthesis in {fn}(...)")
                return Expr("fn", op=fn, children=args)
            # one-arg statistical-aggregate operand
            # (round(stddev_samp(x), 6), HAVING var_pop(x) > 2) —
            # plain column argument, like the branch below; the
            # two-arg corr/covar stay direct select aggregates only
            if (
                v.lower() in self._STAT_AGGS
                and self._STAT_AGGS[v.lower()]
                not in ("corr", "covar_samp", "covar_pop")
                and self.peek() == ("op", "(")
            ):
                self.next()
                func = self._STAT_AGGS[v.lower()]
                k2, inner = self.name_next()
                if k2 != "name":
                    raise ValueError(
                        f"expected column in {func}(...), got {inner!r}"
                    )
                if not self.accept_op(")"):
                    raise ValueError(f"unbalanced parenthesis in {func}(...)")
                return Expr("ref", value=FieldRef(tuple(inner.split(".")), None, func))
            # aggregate-call operand (HAVING count(*) > 2, HAVING avg(x) < y)
            if v.lower() in self._AGG_FUNCS and self.peek() == ("op", "("):
                self.next()
                func = v.lower()
                if self.accept_op("*"):
                    if func != "count":
                        raise ValueError(f"{func}(*) is not valid; only count(*)")
                    parts: tuple[str, ...] = ()
                else:
                    if self.accept_kw("distinct"):
                        # HAVING count(DISTINCT x) > n etc. — the same
                        # *_distinct compile path as the select list
                        func = f"{func}_distinct"
                    k2, inner = self.name_next()
                    if k2 != "name":
                        raise ValueError(
                            f"expected column in {func}(...), got {inner!r}"
                        )
                    parts = tuple(inner.split("."))
                if not self.accept_op(")"):
                    raise ValueError(f"unbalanced parenthesis in {func}(...)")
                return Expr("ref", value=FieldRef(parts, None, func))
            return Expr("ref", value=FieldRef(tuple(v.split("."))))
        raise ValueError(f"unexpected operand {v!r}")


def parse(sql: str) -> BoostQuery:
    """Parse boost-dialect SQL into a :class:`BoostQuery` (single
    statement only, as in parser.go:36-38)."""
    return _Parser(_tokenize(sql)).parse_query()


# --------------------------------------------------------------------------
# Planner: BoostQuery -> DataFrame (planner.go:115-243 collapsed into
# Catalyst — fetch nodes become a filtered scan, select nodes a projection,
# the where node a Catalyst Filter)
# --------------------------------------------------------------------------


class _Resolver:
    """Resolves sugared names against one source binding and collects the
    set of referenced series (each series the reference would plan a
    FetchSeries node for, planner.go:149-157)."""

    def __init__(self, q: BoostQuery, binding: SeriesFamilyBinding):
        self.q = q
        self.b = binding
        self.series: set[str] = set()

    def strip_alias(self, parts: tuple[str, ...]) -> tuple[str, ...]:
        if self.q.source_alias and len(parts) > 1 and parts[0] == self.q.source_alias:
            return parts[1:]
        return parts

    def resolve(self, ref: FieldRef) -> tuple[str, str]:
        """-> (series, physical column)."""
        parts = self.strip_alias(ref.parts)
        if len(parts) == 1:
            self.series.add(parts[0])
            return parts[0], self.b.value_col  # value sugar
        if len(parts) == 2:
            series, attr = parts
            self.series.add(series)
            col = self.b.value_col if attr == "value" else attr
            return series, col
        raise ValueError(f"cannot resolve field {'.'.join(ref.parts)}")

    def default_name(self, ref: FieldRef) -> str:
        if ref.alias:
            return ref.alias
        if ref.func is not None and not ref.parts:
            return ref.func  # count(*)
        parts = self.strip_alias(ref.parts)
        base = parts[-1] if len(parts) > 1 else self.b.value_col
        return f"{ref.func}_{base}" if ref.func else base


class _JoinResolver:
    """Multi-source resolution for join queries. Every field ref must be
    source-qualified (``parts[0]`` = source alias or family name); each
    source's columns are renamed ``<src>__<col>`` before the join so
    attribute names never collide across sources. Implements the same
    resolve/default_name interface as :class:`_Resolver`, so the whole
    downstream planner (WHERE/agg/HAVING/ORDER machinery) is shared."""

    def __init__(
        self,
        q: BoostQuery,
        bindings: dict[str, SeriesFamilyBinding],
        ctes: dict[str, DataFrame] | None = None,
    ):
        self.b = bindings
        self.ctes = ctes or {}
        self.sources: dict[str, tuple[str, SeriesFamilyBinding]] = {}
        #: CTE sources: key -> planned DataFrame (plain-column
        #: semantics, no series sugar, no implicit time range — the
        #: CTE body already applied its own)
        self.cte_df: dict[str, DataFrame] = {}
        self.series: dict[str, set] = {}
        #: all source keys (family AND CTE) in FROM/JOIN order — the
        #: scan/join loop pairs this with q.joins positionally
        self.order: list[str] = []
        #: LATERAL table-function sources: key -> output column names
        self.lateral: dict[str, tuple[str, ...]] = {}
        self._register(q.domain, q.family, q.source_alias)
        for j in q.joins:
            if j.kind == "lateral":
                key = j.alias or j.family
                if (
                    key in self.sources
                    or key in self.cte_df
                    or key in self.lateral
                ):
                    raise ValueError(
                        f"duplicate source name {key!r} in FROM/JOIN"
                    )
                self.order.append(key)
                self.lateral[key] = _LATERAL_FNS[j.family]
                self.series[key] = set()
            else:
                self._register(j.domain, j.family, j.alias)

    def _register(self, domain: str, family: str, alias: str | None) -> None:
        key = alias or family
        if key in self.sources or key in self.cte_df:
            raise ValueError(f"duplicate source name {key!r} in FROM/JOIN")
        self.order.append(key)
        if domain == "":  # WITH-clause reference
            if family not in self.ctes:
                raise ValueError(
                    f"unqualified source {family!r} names no WITH clause — "
                    "FROM requires qualified domain.family (parser.go:36-38) "
                    "or a declared CTE"
                )
            self.cte_df[key] = self.ctes[family]
            self.series[key] = set()
            return
        qn = f"{domain}.{family}"
        if qn not in self.b:
            raise ValueError(f"no binding for source {qn}")
        self.sources[key] = (qn, self.b[qn])
        self.series[key] = set()

    def _cte_col(self, src: str, col: str) -> str:
        cols = self.cte_df[src].columns
        if col not in cols:
            raise ValueError(
                f"{src}.{col}: WITH source {src!r} has no column {col!r} "
                f"(columns: {cols})"
            )
        return f"{src}__{col}"

    def resolve(self, ref: FieldRef) -> tuple[str, str]:
        parts = ref.parts
        if len(parts) < 2 or (
            parts[0] not in self.sources
            and parts[0] not in self.cte_df
            and parts[0] not in self.lateral
        ):
            raise ValueError(
                f"field {'.'.join(parts)} must be source-qualified in a join query"
            )
        src = parts[0]
        rest = parts[1:]
        if src in self.lateral:  # table-function output columns
            if len(rest) != 1 or rest[0] not in self.lateral[src]:
                raise ValueError(
                    f"{'.'.join(parts)}: LATERAL source {src!r} has "
                    f"columns {list(self.lateral[src])}"
                )
            return None, f"{src}__{rest[0]}"
        if src in self.cte_df:  # plain-column semantics, no sugar
            if len(rest) != 1:
                raise ValueError(
                    f"{'.'.join(parts)}: WITH sources take alias.column refs"
                )
            return None, self._cte_col(src, rest[0])
        b = self.sources[src][1]
        if len(rest) == 1:
            self.series[src].add(rest[0])
            return rest[0], f"{src}__{b.value_col}"
        if len(rest) == 2:
            series, attr = rest
            self.series[src].add(series)
            col = b.value_col if attr == "value" else attr
            return series, f"{src}__{col}"
        raise ValueError(f"cannot resolve field {'.'.join(parts)}")

    def resolve_on(self, ref: FieldRef) -> str:
        """ON refs are plain ``source.column`` (the reference's
        JoinInfo LeftSource/LeftColumn shape) — no series implied."""
        if len(ref.parts) != 2 or (
            ref.parts[0] not in self.sources
            and ref.parts[0] not in self.cte_df
            and ref.parts[0] not in self.lateral
        ):
            raise ValueError(
                f"ON ref {'.'.join(ref.parts)} must be source.column"
            )
        src, col = ref.parts
        if src in self.lateral:
            if col not in self.lateral[src]:
                raise ValueError(
                    f"LATERAL source {src!r} has columns "
                    f"{list(self.lateral[src])}, not {col!r}"
                )
            return f"{src}__{col}"
        if src in self.cte_df:
            return self._cte_col(src, col)
        b = self.sources[src][1]
        return f"{src}__{b.value_col if col == 'value' else col}"

    def default_name(self, ref: FieldRef) -> str:
        if ref.alias:
            return ref.alias
        if ref.func is not None and not ref.parts:
            return ref.func  # count(*)
        parts = ref.parts
        if len(parts) >= 3 or (parts and parts[0] in self.cte_df):
            base = parts[-1]
        else:
            b = self.sources[parts[0]][1] if parts[0] in self.sources else None
            base = b.value_col if b is not None else parts[-1]
        return f"{ref.func}_{base}" if ref.func else base


class _CteResolver:
    """Single-source resolution when FROM names a WITH-clause result:
    the CTE output is a plain table (arbitrary columns, no series
    sugar, no value column), so ``[alias.]col`` resolves directly to a
    column of the planned CTE DataFrame. Implements the same
    resolve/default_name interface as :class:`_Resolver`."""

    def __init__(self, q: BoostQuery, df: DataFrame):
        self.q = q
        self.df = df
        self.series: set[str] = set()  # CTEs carry no series
        self.cols = set(df.columns)

    def strip_alias(self, parts: tuple[str, ...]) -> tuple[str, ...]:
        if (
            self.q.source_alias
            and len(parts) > 1
            and parts[0] == self.q.source_alias
        ):
            return parts[1:]
        return parts

    def resolve(self, ref: FieldRef) -> tuple[str | None, str]:
        parts = self.strip_alias(ref.parts)
        if len(parts) == 1 and parts[0] in self.cols:
            return None, parts[0]
        raise ValueError(
            f"{'.'.join(ref.parts)} is not a column of WITH source "
            f"{self.q.family!r} (columns: {sorted(self.cols)})"
        )

    def default_name(self, ref: FieldRef) -> str:
        if ref.alias:
            return ref.alias
        if ref.func is not None and not ref.parts:
            return ref.func  # count(*)
        base = self.strip_alias(ref.parts)[-1]
        return f"{ref.func}_{base}" if ref.func else base


def _expr_refs(e: Expr):
    """All FieldRefs in an expression tree (pre-order). Subquery nodes
    are NOT descended into — their refs resolve against the subquery's
    own resolver when the subquery is planned."""
    if e.kind == "ref":
        yield e.value
    for c in e.children:
        yield from _expr_refs(c)


def _has_subquery(e: Expr) -> bool:
    return e.kind == "subquery" or any(_has_subquery(c) for c in e.children)


def _conjuncts(e: Expr) -> list[Expr]:
    """Flatten top-level ANDs: a AND (b AND c) -> [a, b, c]."""
    if e.kind == "and":
        return _conjuncts(e.children[0]) + _conjuncts(e.children[1])
    return [e]


def _subst_subqueries(e: Expr, names: dict[int, str]) -> Expr:
    """Clone the tree with subquery nodes (keyed by identity) replaced
    by physical-column refs — the planner joins the subquery result in
    as that column first."""
    if id(e) in names:
        return Expr("physcol", value=names[id(e)])
    if e.children:
        return Expr(
            e.kind,
            op=e.op,
            value=e.value,
            children=[_subst_subqueries(c, names) for c in e.children],
        )
    return e


def _param_value(name: str, params: dict | None):
    if params is None or name not in params:
        raise ValueError(f"unbound placeholder :{name} — pass params={{{name!r}: ...}}")
    return params[name]


def _operand_value(e: Expr, params: dict | None):
    """Python value of a literal-position operand (IN list items, LIKE
    pattern): a constant or a bound placeholder."""
    if e.kind == "param":
        return _param_value(e.value, params)
    return e.value


#: scalar-fn compile table: name -> (min_args, max_args|None, impl).
#: floor/ceil pin a DOUBLE result (Spark's natural LONG vs DuckDB's
#: DOUBLE would otherwise diverge); everything else keeps Spark's
#: natural type and the oracle side casts where engines differ.
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

_FN_IMPL: dict = {
    "abs": (1, 1, F.abs),
    "sqrt": (1, 1, F.sqrt),
    "floor": (1, 1, lambda a: F.floor(a).cast("double")),
    "ceil": (1, 1, lambda a: F.ceil(a).cast("double")),
    "upper": (1, 1, F.upper),
    "lower": (1, 1, F.lower),
    "length": (1, 1, F.length),
    "trim": (1, 1, F.trim),
    "coalesce": (2, None, lambda *a: F.coalesce(*a)),
    "concat": (2, None, lambda *a: F.concat(*a)),
    "substring": (3, 3, F.substring),
    "year": (1, 1, F.year),
    "month": (1, 1, F.month),
    "day": (1, 1, F.dayofmonth),
    "hour": (1, 1, F.hour),
    "minute": (1, 1, F.minute),
    # r10 batch — identical name + semantics on both engines:
    "nullif": (2, 2, F.nullif),
    "greatest": (2, None, lambda *a: F.greatest(*a)),
    "least": (2, None, lambda *a: F.least(*a)),
    "ltrim": (1, 1, F.ltrim),
    "rtrim": (1, 1, F.rtrim),
    "replace": (3, 3, F.replace),
    "reverse": (1, 1, F.reverse),
}


def _compile_fn(e: Expr, res, name_of, params) -> Column:
    """A whitelisted scalar call. round() compiles to the engine-
    independent grid floor(x*10^n + 0.5)/10^n (identical IEEE ops on
    every engine — ANSI half-up disagrees between Spark's BigDecimal
    shortest-repr rounding and DuckDB's binary-value rounding at half
    boundaries); date_trunc requires its unit as a string literal."""
    fn = e.op
    if fn == "round":
        if not 1 <= len(e.children) <= 2:
            raise ValueError("round(x[, n]) takes 1 or 2 arguments")
        n = 0
        if len(e.children) == 2:
            c = e.children[1]
            if c.kind != "lit" or not isinstance(c.value, int):
                raise ValueError("round() scale must be an integer literal")
            n = c.value
        a = _compile_expr(e.children[0], res, name_of, params)
        scale = F.lit(float(10**n))
        return F.floor(a * scale + F.lit(0.5)) / scale
    if fn == "date_trunc":
        if (
            len(e.children) != 2
            or e.children[0].kind != "lit"
            or not isinstance(e.children[0].value, str)
        ):
            raise ValueError(
                "date_trunc('unit', ts) requires a string-literal unit"
            )
        ts = _compile_expr(e.children[1], res, name_of, params)
        return F.date_trunc(e.children[0].value, ts)
    lo, hi, impl = _FN_IMPL[fn]
    if len(e.children) < lo or (hi is not None and len(e.children) > hi):
        arity = str(lo) if hi == lo else f"{lo}..{hi if hi else 'n'}"
        raise ValueError(
            f"{fn}() takes {arity} argument(s), got {len(e.children)}"
        )
    args = [_compile_expr(c, res, name_of, params) for c in e.children]
    return impl(*args)


def _order_col(name: str, desc: bool, nulls: str | None) -> Column:
    """Sort key with explicit NULLS FIRST/LAST. Spark's bare asc/desc
    ties the null position to the direction (ASC→first, DESC→last);
    an explicit NULLS clause overrides it, matching ANSI engines."""
    c = F.col(name)
    if nulls == "first":
        return c.desc_nulls_first() if desc else c.asc_nulls_first()
    if nulls == "last":
        return c.desc_nulls_last() if desc else c.asc_nulls_last()
    return c.desc() if desc else c.asc()


def _compile_expr(e: Expr, res: _Resolver, name_of=None, params: dict | None = None) -> Column:
    if e.kind == "physcol":  # pre-joined subquery result column
        return F.col(e.value)
    if e.kind == "fn":
        return _compile_fn(e, res, name_of, params)
    if e.kind == "cast":
        return _compile_expr(e.children[0], res, name_of, params).cast(e.op)
    if e.kind == "exists":
        raise ValueError(
            "EXISTS is supported as a top-level AND conjunct of WHERE only"
        )
    if e.kind == "subquery":
        raise ValueError(
            "subqueries are supported as top-level AND conjuncts of WHERE "
            "only: x IN (SELECT ...) or a comparison against a scalar "
            "aggregate subquery"
        )
    if e.kind == "lit":
        return F.lit(e.value)
    if e.kind == "param":
        return F.lit(_param_value(e.value, params))
    if e.kind == "ref":
        if name_of is not None:  # post-aggregation scope (HAVING)
            return F.col(name_of(e.value))
        _, col = res.resolve(e.value)
        return F.col(col)
    if e.kind == "arith":
        a, b = (_compile_expr(c, res, name_of, params) for c in e.children)
        # %: both Spark and DuckDB implement remainder-with-dividend-sign
        return {"+": a + b, "-": a - b, "*": a * b, "/": a / b,
                "%": a % b}[e.op]
    if e.kind == "case":
        ch = list(e.children)
        subj = None
        if e.op == "simple":
            subj = _compile_expr(ch.pop(0), res, name_of, params)
        has_else = len(ch) % 2 == 1
        otherwise = ch.pop() if has_else else None
        col = None
        for i in range(0, len(ch), 2):
            cond = _compile_expr(ch[i], res, name_of, params)
            if subj is not None:
                cond = subj == cond
            val = _compile_expr(ch[i + 1], res, name_of, params)
            col = F.when(cond, val) if col is None else col.when(cond, val)
        if otherwise is not None:
            col = col.otherwise(_compile_expr(otherwise, res, name_of, params))
        return col
    if e.kind == "cmp":
        left, right = (_compile_expr(c, res, name_of, params) for c in e.children)
        return {
            "=": left == right,
            "!=": left != right,
            "<": left < right,
            "<=": left <= right,
            ">": left > right,
            ">=": left >= right,
        }[e.op]
    if e.kind == "and":
        return _compile_expr(e.children[0], res, name_of, params) & _compile_expr(
            e.children[1], res, name_of, params
        )
    if e.kind == "or":
        return _compile_expr(e.children[0], res, name_of, params) | _compile_expr(
            e.children[1], res, name_of, params
        )
    if e.kind == "not":
        return ~_compile_expr(e.children[0], res, name_of, params)
    if e.kind == "isnull":
        return _compile_expr(e.children[0], res, name_of, params).isNull()
    if e.kind == "in":
        return _compile_expr(e.children[0], res, name_of, params).isin(
            *[_operand_value(c, params) for c in e.children[1:]]
        )
    if e.kind == "between":
        a, lo, hi = (_compile_expr(c, res, name_of, params) for c in e.children)
        return a.between(lo, hi)
    if e.kind == "like":
        return _compile_expr(e.children[0], res, name_of, params).like(
            _operand_value(e.children[1], params)
        )
    if e.kind == "ilike":
        return _compile_expr(e.children[0], res, name_of, params).ilike(
            _operand_value(e.children[1], params)
        )
    raise ValueError(f"unknown expr kind {e.kind}")


def _source_scan(
    spark: SparkSession, key: str, res: "_JoinResolver", start, end
) -> DataFrame:
    """One join source: scan -> series filter -> implicit time range ->
    rename every column to ``<src>__<col>``. A WITH-clause source's
    plan IS its scan (filters already pushed inside the CTE body); it
    only takes the rename."""
    if key in res.cte_df:
        df = res.cte_df[key]
        return df.select(
            [F.col(c).alias(f"{key}__{c}") for c in df.columns]
        )
    b = res.sources[key][1]
    df = spark.table(b.view)
    series = sorted(res.series[key])
    if len(series) == 1:
        df = df.filter(F.col(b.series_col) == series[0])
    elif series:
        df = df.filter(F.col(b.series_col).isin(series))
    df = apply_time_range(df, start, end, ts_col=b.ts_col)
    return df.select([F.col(c).alias(f"{key}__{c}") for c in df.columns])


#: hard cap on recursive-CTE fixpoint iterations. Iteration count is
#: the DATA's recursion depth (graph diameter, hierarchy height,
#: time-span/period) — never its row count — so a query still
#: expanding after this many distributed steps is almost certainly a
#: divergent UNION ALL recursion over a cyclic graph; refuse loudly
#: rather than spin.
RECURSIVE_CTE_MAX_ITERS = 64

#: fixpoint accumulator re-materialization cadence: between rebuilds
#: the seen-set is one checkpointed base plus at most CADENCE-1
#: checkpointed delta leaves, so the per-step subtract's plan width is
#: O(1) while total accumulator rewrite I/O drops by the cadence
#: factor (measured at sf0.1: per-step rebuild, cadence 4/8/16 all
#: within noise once warm; at closure scale the rewrite saving is the
#: point)
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
    """Bounded-iteration distributed fixpoint for
    ``WITH RECURSIVE name AS (base UNION [ALL] rec)`` — the capability
    the reference's TiDB parser accepts and drops
    (query/parser/parser.go:25-45).

    Semi-naive evaluation: the self-reference in the recursive term
    binds to the PREVIOUS iteration's DELTA (the working table), the
    same semantics as DuckDB/postgres. For UNION (distinct) the delta
    is the set difference of the step result against everything
    accumulated, so closures over cyclic graphs terminate; UNION ALL
    keeps duplicates and terminates only when a step is empty (the
    iteration cap backstops divergence).

    Scale shape: every iteration is one ordinary distributed job over
    the delta (joins/aggs shuffle as usual); the accumulator and delta
    LOCALCHECKPOINT each step — without that the logical plan doubles
    per iteration and Catalyst analysis goes quadratic, with it each
    step reads materialized partitions. Driver traffic per step is a
    single isEmpty probe; nothing row-sized ever collects."""
    import dataclasses

    op, rec = body.set_ops[0]
    local = dict(ctes)
    # body-level derived tables / nested CTEs plan once, up front
    for nm, b in body.ctes:
        if nm in local:
            raise ValueError(f"duplicate WITH name {nm!r}")
        local[nm] = plan(spark, b, binding, start, end, params, _ctes=local)
    base_q = dataclasses.replace(
        body, set_ops=[], ctes=[], recursive=False
    )

    def _b(c: "BoostQuery"):
        if isinstance(binding, dict) and not c.joins and c.domain != "":
            qn = f"{c.domain}.{c.family}"
            if qn not in binding:
                raise ValueError(f"no binding for recursive-CTE source {qn}")
            return binding[qn]
        return binding

    acc = plan(spark, base_q, _b(base_q), start, end, params, _ctes=local)
    if op == "union":
        acc = acc.distinct()
    acc = acc.localCheckpoint()
    # Semi-naive accumulator with a CHECKPOINT CADENCE. Two rejected
    # extremes, both measured at sf0.1:
    #   - re-materialize acc = acc UNION delta EVERY step (r9/r10
    #     shape): O(depth x total_rows) pure rewrite I/O on top of the
    #     subtract shuffle;
    #   - keep acc as a fully LAZY union of checkpointed deltas (the
    #     first r11 attempt): the subtract's right side grows to
    #     O(depth) leaf scans, so per-step analysis+scan machinery goes
    #     quadratic in depth — measured 1.8x SLOWER end-to-end
    #     (dialect_recursive_cte 3.2 -> 5.9 s) than the rewrite it
    #     "saved".
    # The cadence takes the middle: acc re-materializes only every
    # _ACC_CADENCE steps, between rebuilds the seen-set is acc plus at
    # most _ACC_CADENCE-1 checkpointed delta leaves — plan width is
    # O(1), total materialization I/O drops by the cadence factor
    # (the 100-TB closure concern), and the subtract still shuffles
    # exactly the seen rows it must.
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
        step = plan(spark, rec, _b(rec), start, end, params, _ctes=local)
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
    """Materialize an inline VALUES table as a true LocalRelation.
    Column types are inferred per column over ALL rows (any float ->
    double, else bool, else any int -> bigint, else string), so mixed
    int/float columns widen the way SQL literals do; an all-NULL
    column has no type and is refused.

    Built through a Spark SQL inline table (``SELECT * FROM VALUES
    ...``), NOT createDataFrame: the latter ships rows through an
    ExistingRDD whose size statistics are unknown, so the static
    planner would never broadcast the literal dimension — the whole
    point of an inline table in a join. A LocalRelation carries exact
    stats and broadcast-joins for free. Cells are parser-validated
    literals and column names are tokenizer-validated identifiers, so
    the rendered SQL is injection-safe by construction."""
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField,
    )

    fields = []
    for i, c in enumerate(vt.cols):
        vals = [r[i] for r in vt.rows if r[i] is not None]
        if not vals:
            raise ValueError(
                f"VALUES column {c!r} is entirely NULL — no type to infer"
            )
        if any(isinstance(v, float) for v in vals):
            t = DoubleType()
        elif any(isinstance(v, bool) for v in vals):
            if not all(isinstance(v, bool) for v in vals):
                raise ValueError(f"VALUES column {c!r} mixes bool and non-bool")
            t = BooleanType()
        elif any(isinstance(v, int) for v in vals):
            t = LongType()
        else:
            t = StringType()
        fields.append(StructField(c, t, True))

    def _fmt(v, dt):
        if v is None:
            return "NULL"
        if isinstance(dt, DoubleType):
            return repr(float(v))
        if isinstance(dt, BooleanType):
            return "true" if v else "false"
        if isinstance(dt, LongType):
            return str(int(v))
        return "'" + str(v).replace("'", "''") + "'"

    rows_sql = ", ".join(
        "(" + ", ".join(_fmt(v, f.dataType) for v, f in zip(r, fields)) + ")"
        for r in vt.rows
    )
    cols_sql = ", ".join(f.name for f in fields)
    df = spark.sql(f"SELECT * FROM VALUES {rows_sql} AS t({cols_sql})")
    # enforce the widened per-column types (Spark infers int32 for
    # small int literals; the cast projection collapses back into the
    # LocalRelation at optimization time). The EXPLICIT broadcast hint
    # is correct BY CONSTRUCTION: an inline VALUES table is bounded by
    # its literal row count — and under this engine's broadcast
    # posture (static estimate-based broadcasts off, session.py) an
    # explicit hint is the only way a literal dimension joins
    # broadcast-side in the static plan.
    return F.broadcast(df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields]
    ))


def _apply_reshape(q: BoostQuery, df: DataFrame) -> DataFrame:
    """Apply the PIVOT/UNPIVOT table operator to the anchor DataFrame.

    PIVOT compiles to ONE groupBy().pivot(key, values).agg(...) — the
    explicit value list means Spark plans a single partial+final hash
    aggregate with per-value pivot expressions (no per-value scans, no
    driver-side distinct pass); implicit ANSI grouping keys = every
    column the clause doesn't reference. count(*) pivots fill absent
    cells with 0 (ANSI/DuckDB count semantics); value aggregates leave
    them NULL. UNPIVOT compiles to Spark's native unpivot (one Expand,
    output rows = input rows x |cols|) with NULL cells dropped
    (ANSI/DuckDB default EXCLUDE NULLS)."""
    if q.pivot is not None:
        p = q.pivot
        if p.key_col not in df.columns:
            raise ValueError(
                f"PIVOT FOR column {p.key_col!r} is not a source column "
                f"(columns: {sorted(df.columns)})"
            )
        if p.agg_col is not None and p.agg_col not in df.columns:
            raise ValueError(
                f"PIVOT aggregate column {p.agg_col!r} is not a source "
                f"column (columns: {sorted(df.columns)})"
            )
        keys = [c for c in df.columns if c not in (p.key_col, p.agg_col)]
        if not keys:
            raise ValueError(
                "PIVOT needs at least one implicit group-key column "
                "(a source column not referenced by the clause)"
            )
        gb = df.groupBy(*keys).pivot(p.key_col, p.values)
        if p.agg_col is None:  # count(*)
            out = gb.agg(F.count(F.lit(1)))
            names = [str(v) for v in p.values if str(v) in out.columns]
            return out.na.fill(0, subset=names)
        agg_impl = {"count": F.count, "sum": F.sum, "avg": F.avg,
                    "min": F.min, "max": F.max}[p.func]
        return gb.agg(agg_impl(p.agg_col))
    u = q.unpivot
    missing = [c for c in u.cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"UNPIVOT IN names missing columns {missing} "
            f"(columns: {sorted(df.columns)})"
        )
    ids = [c for c in df.columns if c not in u.cols]
    out = df.unpivot(ids, u.cols, u.key_col, u.val_col)
    return out.filter(F.col(u.val_col).isNotNull())


def _window_exclude(func, xc, wref, wspec, wnoframe, agg_map):
    """Lower an ANSI frame-exclusion clause (EXCLUDE CURRENT ROW /
    GROUP / TIES) onto Spark, which has no native frame exclusion.
    Each mode rewrites to a composition of window aggregates that all
    share the base window's partition+sort — ONE Exchange in the plan:

    - EXCLUDE CURRENT ROW: sum/count/avg subtract the current row from
      the full-frame aggregate, guarded by the excluded non-null count
      so an otherwise-empty exclusion frame yields NULL exactly like
      the native clause; min/max split the ROWS frame into [lo,-1] and
      [1,hi] sibling frames and combine with least/greatest (both
      null-skipping in Spark).
    - EXCLUDE GROUP / TIES: subtract the current PEER GROUP's
      aggregate, computed over the same sort with rangeBetween(0,0)
      (peers == order-key distance 0); TIES adds the current row back.
      Valid for RANGE/GROUPS frames only — there the full peer group
      is inside the frame whenever the bounds straddle the current
      row; under a ROWS frame part of the peer group can sit OUTSIDE
      the frame and the subtraction would over-correct, so that
      combination is refused loudly.

    A frame that does not contain the current row (e.g. ROWS BETWEEN
    3 PRECEDING AND 1 PRECEDING) makes every exclusion a no-op by
    definition — the rows to exclude are not in the frame.

    FP caveat (r11 advisor): sum/avg exclusion is lowered as
    full-frame aggregate MINUS excluded aggregate. On exact types
    (integers, DECIMAL) that is bit-identical to a native EXCLUDE; on
    raw DOUBLE data the subtraction can differ from aggregating only
    the remaining rows by ulps (floating-point addition is not
    associative). Users needing bit-parity with a native-EXCLUDE
    engine (e.g. the DuckDB oracle) should aggregate an exact-integer
    grid — e.g. floor(x*1e6+0.5) — as the certified entry
    dialect_frame_exclude does; min/max/count are unaffected (no
    arithmetic rewrite)."""
    lo, hi = wref.frame
    mode = wref.exclude
    if func not in ("sum", "count", "avg", "min", "max"):
        raise ValueError(
            f"EXCLUDE is not supported with {func}() — frame "
            "exclusion rewrites apply to sum/count/avg/min/max"
        )
    if lo > 0 or hi < 0:  # current row (and its peers) not in frame
        if xc is None:
            return F.count(F.lit(1)).over(wspec)
        return agg_map[func](xc).over(wspec)
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
            parts.append(
                agg_map[func](xc).over(wnoframe.rowsBetween(lo, -1))
            )
        if hi >= 1:
            parts.append(
                agg_map[func](xc).over(wnoframe.rowsBetween(1, hi))
            )
        if not parts:  # frame was exactly the current row -> NULL
            return F.when(F.lit(False), agg_map[func](xc).over(wspec))
        if len(parts) == 1:
            return parts[0]
        comb = F.least if func == "min" else F.greatest
        return comb(*parts)
    cnt_full = (F.count(F.lit(1)) if xc is None else F.count(xc)).over(wspec)
    if mode == "current":
        sub_cnt = (
            F.lit(1) if xc is None
            else F.when(xc.isNotNull(), 1).otherwise(0)
        )
        sub_sum = None if xc is None else F.coalesce(xc, F.lit(0))
    else:  # group / ties
        if wref.frame_type == "rows":
            raise ValueError(
                "EXCLUDE GROUP/TIES requires a RANGE or GROUPS frame "
                "(a ROWS frame can cut a peer group, so subtracting "
                "the whole group's aggregate would over-correct)"
            )
        peers = wnoframe.rangeBetween(0, 0)
        g_cnt = (
            F.count(F.lit(1)) if xc is None else F.count(xc)
        ).over(peers)
        g_sum = None if xc is None else F.sum(xc).over(peers)
        if mode == "group":
            sub_cnt, sub_sum = g_cnt, g_sum
        else:  # ties: exclude the peers but keep the current row
            cur = (
                F.lit(1) if xc is None
                else F.when(xc.isNotNull(), 1).otherwise(0)
            )
            sub_cnt = g_cnt - cur
            sub_sum = (
                None if xc is None
                else g_sum - F.coalesce(xc, F.lit(0))
            )
    excl_cnt = cnt_full - sub_cnt
    if func == "count":
        return excl_cnt
    sum_full = F.sum(xc).over(wspec)
    if func == "sum":
        return F.when(
            excl_cnt > 0, sum_full - F.coalesce(sub_sum, F.lit(0))
        )
    # avg: NULL when the exclusion empties. try_divide (NULL on a zero
    # divisor — same IEEE division otherwise) instead of
    # when(excl_cnt > 0, ...) / excl_cnt: Spark does NOT dedup window
    # aggregate expressions when building the physical Window node, so
    # the guard form embedded a second sliding buffer for every
    # aggregate inside excl_cnt (r14 window-buffer sweep: 6 buffers on
    # the EXCLUDE TIES node where 4 distinct aggregates suffice). Each
    # window aggregate now appears exactly once in the expression tree.
    return F.try_divide(
        sum_full - F.coalesce(sub_sum, F.lit(0)), excl_cnt
    )


#: statistical aggregate lowering map (canonical name -> Spark native)
_STAT_AGG_FNS = {
    "stddev_samp": F.stddev_samp, "stddev_pop": F.stddev_pop,
    "var_samp": F.var_samp, "var_pop": F.var_pop,
    "corr": F.corr, "covar_samp": F.covar_samp, "covar_pop": F.covar_pop,
}


def plan(
    spark: SparkSession,
    q: BoostQuery,
    binding: SeriesFamilyBinding | dict[str, SeriesFamilyBinding],
    start=None,
    end=None,
    params: dict | None = None,
    _ctes: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Plan a BoostQuery onto a DataFrame.

    The reference's plan DAG (family -> series -> select -> where,
    planner.go:115-243) becomes: scan -> series filter (the FetchSeries
    fan-out collapses into one ``isin`` predicate that parquet row-group
    stats can skip on) -> implicit time range -> WHERE -> projection ->
    group/having/order/limit. Catalyst then pushes the filters into the
    scan — visible as PushedFilters in ``.explain``.

    Join queries (the surface the reference parses but never plans,
    queryops.go:60-66): ``binding`` may be a dict keyed by
    ``domain.family``; a single binding serves self-joins. Each source
    scans/filters independently, then equi- or cross-joins; Spark picks
    the physical join strategy.

    WITH-clause subqueries (``q.ctes``) plan first, in declaration
    order — each body is an independent declarative plan whose filters
    push into ITS scan — and become plain-column sources for later
    CTEs and the main query (``_ctes`` is the internal accumulator
    threaded through recursive calls). Everything stays lazy: a CTE
    referenced twice is the same DataFrame lineage, and Spark reuses
    the subplan (ReusedExchange) or recomputes it per Catalyst's own
    cost logic — no driver-side materialization.
    """
    ctes: dict[str, DataFrame] = dict(_ctes or {})
    for cname, body in q.ctes:
        if cname in ctes:
            raise ValueError(f"duplicate WITH name {cname!r}")
        if isinstance(body, ValuesTable):
            ctes[cname] = _plan_values(spark, body)
        elif body.recursive:
            ctes[cname] = _plan_recursive_cte(
                spark, cname, body, binding, start, end, params, ctes
            )
        else:
            ctes[cname] = plan(
                spark, body, binding, start, end, params, _ctes=ctes
            )
    if q.set_ops:
        # set-operation statement: plan each core independently (each
        # core's filters push into ITS scan), align by position, then
        # combine — UNION dedups (union + distinct exchange), UNION ALL
        # is a zero-shuffle concatenation, INTERSECT/EXCEPT are
        # Spark's distinct set semantics. ORDER BY / LIMIT apply to the
        # combined result and must name output columns.
        import dataclasses

        def _core_binding(c: "BoostQuery"):
            if isinstance(binding, dict) and not c.joins and c.domain != "":
                qn = f"{c.domain}.{c.family}"
                if qn not in binding:
                    raise ValueError(f"no binding for set-op source {qn}")
                return binding[qn]
            return binding

        base = dataclasses.replace(
            q, set_ops=[], order_by=[], limit=None, offset=None, ctes=[]
        )
        df = plan(spark, base, _core_binding(base), start, end, params,
                  _ctes=ctes)
        for op, rhs in q.set_ops:
            rdf = plan(spark, rhs, _core_binding(rhs), start, end, params,
                       _ctes=ctes)
            if len(rdf.columns) != len(df.columns):
                raise ValueError(
                    f"set-operation sides have {len(df.columns)} vs "
                    f"{len(rdf.columns)} columns"
                )
            rdf = rdf.toDF(*df.columns)  # positional, like SQL
            if op == "union_all":
                df = df.union(rdf)
            elif op == "union":
                df = df.union(rdf).distinct()
            elif op == "intersect":
                df = df.intersect(rdf)
            elif op == "intersect_all":
                df = df.intersectAll(rdf)
            elif op == "except_all":
                df = df.exceptAll(rdf)
            else:
                df = df.subtract(rdf)
        if q.order_by:
            order = []
            for ref, desc, nulls in q.order_by:
                if ref.func or len(ref.parts) != 1 or ref.parts[0] not in df.columns:
                    raise ValueError(
                        "ORDER BY after a set operation must name an "
                        f"output column (one of {df.columns})"
                    )
                order.append(_order_col(ref.parts[0], desc, nulls))
            df = df.orderBy(*order)
        if q.offset is not None:
            df = df.offset(q.offset)
        if q.limit is not None:
            if q.limit_ties:
                raise ValueError(
                    "LIMIT ... WITH TIES after a set operation is not "
                    "supported — apply it inside a derived table"
                )
            df = df.limit(q.limit)
        return df

    if q.joins:
        if isinstance(binding, dict):
            bindings = dict(binding)
        else:
            bindings = {}
            if q.domain != "":
                bindings[f"{q.domain}.{q.family}"] = binding
            for j in q.joins:  # a single binding serves self-joins
                if j.domain != "":
                    bindings.setdefault(f"{j.domain}.{j.family}", binding)
        res = _JoinResolver(q, bindings, ctes)
    elif q.domain == "":  # FROM a WITH-clause source, plain columns
        if q.family not in ctes:
            raise ValueError(
                f"unqualified source {q.family!r} names no WITH clause — "
                "FROM requires qualified domain.family (parser.go:36-38) "
                "or a declared CTE"
            )
        src_df = ctes[q.family]
        if q.pivot is not None or q.unpivot is not None:
            src_df = _apply_reshape(q, src_df)
        res = _CteResolver(q, src_df)
    else:
        if q.pivot is not None or q.unpivot is not None:
            raise ValueError(
                "PIVOT/UNPIVOT require a plain-column source — wrap the "
                "family scan in a derived table: FROM (SELECT ...) t "
                "PIVOT (...)"
            )
        res = _Resolver(q, binding)
    sel: list[tuple[str, str | None, str | None, FieldRef]] = []
    for f in q.fields:
        if f.filter_expr is not None:  # FILTER (WHERE pred) refs
            for r in _expr_refs(f.filter_expr):
                res.resolve(r)  # register referenced series pre-scan
        if f.within_group:  # string_agg WITHIN GROUP sort keys
            for r, _d in f.within_group:
                res.resolve(r)
        if f.expr is not None:
            for r in _expr_refs(f.expr):
                if r.parts:  # count(*) refs have no column to register
                    res.resolve(r)  # register referenced series pre-scan
            sel.append((f.alias, None, None, f))
            continue
        if f.arg_expr is not None:  # agg over an expression argument
            for r in _expr_refs(f.arg_expr):
                res.resolve(r)
            sel.append((f.alias, None, f.func, f))
            continue
        col = res.resolve(f)[1] if f.parts else None  # count(*) has no column
        sel.append((res.default_name(f), col, f.func, f))
    # a computed select item may serve as a GROUP BY key via its alias
    # (SELECT floor(x/50) AS bin ... GROUP BY bin) — the derived-bucket
    # aggregation; the expression materializes as a column before the
    # groupBy. Any OTHER computed item in a grouped/aggregated select
    # has no well-defined per-group value and is rejected.
    computed_exprs = {
        f.alias: f.expr for f in q.fields if f.expr is not None and f.alias
    }
    group_computed = {
        g.parts[0]
        for g in q.group_by
        if len(g.parts) == 1 and g.parts[0] in computed_exprs
    }
    # a computed item whose refs are ALL aggregate calls is a
    # POST-AGGREGATION expression (sum(a)/sum(b) ratios,
    # round(avg(x), 2), sqrt(sum(x)) — the ANSI expressions-over-
    # aggregates surface): its aggregate refs compile into the one
    # partial+final hash aggregate (reusing matching select entries or
    # hidden columns, the HAVING machinery) and the arithmetic applies
    # to the aggregated row afterwards. Not combinable with windowed
    # select items (different execution shape).
    post_agg_computed = (
        {
            f.alias
            for f in q.fields
            if f.expr is not None
            and f.alias
            and f.alias not in group_computed
            and (lambda rs: bool(rs) and all(r.func is not None for r in rs))(
                list(_expr_refs(f.expr))
            )
        }
        if not any(f.window for f in q.fields)
        else set()
    )
    stray_computed = [
        f.alias
        for f in q.fields
        if f.expr is not None
        and f.alias not in group_computed
        and f.alias not in post_agg_computed
    ]
    if stray_computed and (
        q.group_by or post_agg_computed or any(f.func for f in q.fields)
    ):
        raise ValueError(
            "computed select expressions must be GROUP BY keys (by their "
            "AS alias) or expressions over aggregate calls when mixed "
            "with grouping or aggregate calls; "
            f"{stray_computed} are neither grouped nor aggregated"
        )
    # WHERE splits into plain conjuncts (one Catalyst filter, pushed
    # into the scan) and subquery conjuncts: IN (SELECT ...) plans as a
    # semi-join (NOT IN as anti-join — null-free key contract, as in
    # Spark's own NOT IN rewrite guidance), and a comparison against a
    # scalar aggregate subquery plans as a broadcast single-row cross
    # join — the same decorrelated shapes the DataFrame-level
    # subquery_in/subquery_scalar entries produce. Everything stays
    # lazy: no driver-side collect of subquery results.
    in_subs: list[tuple[bool, Expr, "BoostQuery"]] = []
    scalar_conjs: list[tuple[Expr, list[Expr]]] = []
    exists_subs: list[tuple[bool, "BoostQuery", list, list[Expr]]] = []

    def _split_exists(sq: "BoostQuery"):
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
            raise ValueError(
                "EXISTS subquery must be a plain single-source SELECT"
            )
        if sq.source_alias == outer_alias:
            # an inner alias shadowing the outer one would make every
            # inner-qualified ref parse as a correlated outer ref —
            # wrong join keys, not an error, so refuse loudly
            raise ValueError(
                f"EXISTS subquery alias {outer_alias!r} shadows the "
                "outer source alias — rename one of them"
            )
        pairs: list[tuple[FieldRef, FieldRef]] = []
        inner: list[Expr] = []
        for cj in _conjuncts(sq.where) if sq.where is not None else []:
            if cj.kind == "cmp" and cj.op == "=":
                outs = [
                    s
                    for s in cj.children
                    if s.kind == "ref"
                    and s.value.parts
                    and s.value.parts[0] == outer_alias
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
                        "correlated refs in EXISTS are supported in "
                        "top-level equality conjuncts only"
                    )
        return pairs, inner

    where_col = None
    if q.where is not None and _has_subquery(q.where):
        plain: list[Expr] = []
        for c in _conjuncts(q.where):
            neg, cc = False, c
            if (
                cc.kind == "not"
                and cc.children
                and cc.children[0].kind == "in"
                and len(cc.children[0].children) == 2
                and cc.children[0].children[1].kind == "subquery"
            ):
                neg, cc = True, cc.children[0]
            if cc.kind == "not" and cc.children and cc.children[0].kind == "exists":
                neg, cc = True, cc.children[0]
            if cc.kind == "exists":
                sq = cc.children[0].value
                pairs, inner = _split_exists(sq)
                for outer_ref, _ in pairs:
                    res.resolve(outer_ref)  # register series pre-scan
                exists_subs.append((neg, sq, pairs, inner))
                continue
            if (
                cc.kind == "in"
                and len(cc.children) == 2
                and cc.children[1].kind == "subquery"
            ):
                for r in _expr_refs(cc.children[0]):
                    res.resolve(r)  # register outer series before the scan
                in_subs.append((neg, cc.children[0], cc.children[1].value))
            elif _has_subquery(cc):
                if cc.kind != "cmp":
                    raise ValueError(
                        "subqueries are supported as top-level AND conjuncts "
                        "of WHERE only: IN (SELECT ...) or a comparison "
                        "against a scalar aggregate subquery"
                    )
                for ch in cc.children:
                    if ch.kind != "subquery":
                        for r in _expr_refs(ch):
                            res.resolve(r)
                scalar_conjs.append(
                    (cc, [ch for ch in cc.children if ch.kind == "subquery"])
                )
            else:
                plain.append(c)
        if plain:
            where_col = _compile_expr(plain[0], res, params=params)
            for p in plain[1:]:
                where_col = where_col & _compile_expr(p, res, params=params)
    elif q.where is not None:
        where_col = _compile_expr(q.where, res, params=params)
    for g in q.group_by:  # register group-by series before the scan filter
        if len(g.parts) == 1 and g.parts[0] in group_computed:
            continue  # computed key: bound to the select expr, not a series
        if g.parts:
            res.resolve(g)
    windowed = any(f.window is not None for f in q.fields)
    if windowed and (q.group_by or any(
        f.func and f.window is None for f in q.fields
    )):
        raise ValueError("window functions cannot mix with GROUP BY/aggregates")
    if q.qualify is not None and not windowed:
        raise ValueError(
            "QUALIFY requires a window-function select item "
            "(use WHERE or HAVING for non-analytic predicates)"
        )
    for f in q.fields:  # register window-ref series before the scan filter
        if f.window is not None:
            for p in f.window.partition_by:
                res.resolve(p)
            for o, _ in f.window.order_by:
                res.resolve(o)

    if q.joins:
        keys = res.order
        df = _source_scan(spark, keys[0], res, start, end)
        for ji, (j, key) in enumerate(zip(q.joins, keys[1:])):
            if j.kind == "lateral":
                # whitelisted table function -> pure-JVM generator: one
                # narrow projection inside whole-stage codegen, no
                # shuffle, no Python. Inner semantics (rows with no
                # output rows drop, matching SQL LATERAL over a UDTF
                # that yields nothing).
                from boostdb_spark.operators.text import tokens as _tok

                arg = _compile_expr(
                    j.lateral_arg, res, name_of=res.resolve_on,
                    params=params,
                )
                if j.family == "tokenize":
                    df = df.select(
                        "*",
                        F.posexplode(_tok(arg)).alias(
                            f"{key}__pos", f"{key}__token"
                        ),
                    )
                else:  # unreachable: the parser whitelists
                    raise ValueError(f"unknown table function {j.family!r}")
                continue
            right = _source_scan(spark, key, res, start, end)

            def _left_on(ref: FieldRef, _seen=keys[: ji + 1], _df_cols=None):
                # USING sentinel (empty source): resolve against the
                # accumulated left side — first source in FROM/JOIN
                # order whose column exists in the joined-so-far plan
                if ref.parts[0] != "":
                    return res.resolve_on(ref)
                cname = ref.parts[1]
                cols = set(df.columns)
                for s in _seen:
                    try:
                        cand = res.resolve_on(FieldRef((s, cname)))
                    except ValueError:  # CTE source without the column
                        continue
                    if cand in cols:
                        return cand
                raise ValueError(
                    f"USING column {cname!r} not found on any left-side "
                    f"source {_seen} (accumulated columns: "
                    f"{sorted(cols)})"
                )
            if j.kind == "cross":
                df = df.crossJoin(right)
            elif j.kind == "asof":
                # plan through the certified one-shuffle union+window
                # asof_join (operators/timeseries.py) — backward
                # direction, ordering on each family's canonical ts
                if keys[0] in res.cte_df or key in res.cte_df:
                    raise ValueError(
                        "ASOF JOIN requires series-family sources on "
                        "both sides (a WITH source has no canonical "
                        "time column)"
                    )
                from boostdb_spark.operators.timeseries import asof_join

                lts = f"{keys[0]}__{res.sources[keys[0]][1].ts_col}"
                rts = f"{key}__{res.sources[key][1].ts_col}"
                on_cols = []
                r2 = right
                for lref, rref in j.on:
                    lc, rc = _left_on(lref), res.resolve_on(rref)
                    if rc != lc:
                        # asof_join's equi keys are same-name columns;
                        # the <src>__ prefixes keep the rename
                        # collision-free
                        r2 = r2.withColumnRenamed(rc, lc)
                    on_cols.append(lc)
                df = asof_join(
                    df, r2, on=on_cols, ts_col=lts, right_ts_col=rts,
                    direction="backward",
                )
            else:
                cond = None
                for lref, rref in j.on:
                    lc, rc = _left_on(lref), res.resolve_on(rref)
                    c = F.col(lc) == F.col(rc)
                    cond = c if cond is None else cond & c
                # residual theta conjuncts ride the SAME hash join on
                # the equi anchor — Catalyst plans the equi keys and
                # applies these as the join's non-equi condition
                for e2 in j.extra or ():
                    cond = cond & _compile_expr(
                        e2, res, name_of=res.resolve_on, params=params
                    )
                df = df.join(right, cond, j.kind)
    elif q.domain == "":
        # FROM a WITH source: the CTE body's plan IS the scan — its own
        # filters/range already pushed; no series filter, no implicit
        # range re-application
        df = res.df
    else:
        df = spark.table(binding.view)
        series = sorted(res.series)
        if len(series) == 1:
            df = df.filter(F.col(binding.series_col) == series[0])
        elif series:
            df = df.filter(F.col(binding.series_col).isin(series))
        df = apply_time_range(df, start, end, ts_col=binding.ts_col)
    if q.sample is not None:
        # TABLESAMPLE (p PERCENT ON key): deterministic hash-bucket cut
        # (operators/sampling.py::deterministic_sample semantics) — one
        # codegen filter conjoined into the scan pipeline, monotone in
        # p, reproducible on any partitioning/cluster
        from boostdb_spark.operators.sampling import _bucket

        if q.joins:
            # the parser rejects this combination; a programmatically
            # built query must not silently return the unsampled result
            raise ValueError(
                "TABLESAMPLE is not supported on a query with joins; "
                "sample the base family in a CTE/derived table instead"
            )
        if q.sample.key_col not in df.columns:
            raise ValueError(
                f"TABLESAMPLE ON {q.sample.key_col!r} is not a column "
                f"of the source (columns: {sorted(df.columns)})"
            )
        # threshold computed exactly in the 10k-bucket space: p percent
        # maps to round(p*100) buckets (int(p/100*10000) truncates under
        # float rounding — 57 PERCENT gave 5699 buckets)
        df = df.filter(
            _bucket(F.col(q.sample.key_col), 10_000)
            < int(round(q.sample.pct * 100))
        )
    if where_col is not None:
        df = df.filter(where_col)

    def _sub_binding(sq: "BoostQuery"):
        if isinstance(binding, dict) and not sq.joins and sq.domain != "":
            qn = f"{sq.domain}.{sq.family}"
            if qn not in binding:
                raise ValueError(f"no binding for subquery source {qn}")
            return binding[qn]
        return binding

    for neg, lhs, subq in in_subs:
        sub_df = plan(spark, subq, _sub_binding(subq), start, end, params,
                      _ctes=ctes)
        if len(sub_df.columns) != 1:
            raise ValueError("IN (SELECT ...) must select exactly one column")
        right = sub_df.toDF("__in_key")
        df = df.join(
            right,
            _compile_expr(lhs, res, params=params) == right["__in_key"],
            "left_anti" if neg else "left_semi",
        )
    for i, (conj, subs) in enumerate(scalar_conjs):
        names: dict[int, str] = {}
        for j, s in enumerate(subs):
            sq = s.value
            if (
                sq.group_by
                or len(sq.fields) != 1
                or sq.fields[0].func is None
                or sq.fields[0].window is not None
            ):
                raise ValueError(
                    "scalar subquery must be a single ungrouped aggregate — "
                    "the reference's Aggregate-as-expression shape "
                    "(query/base/expression.go:16-18)"
                )
            name = f"__scalar_{i}_{j}"
            sub_df = plan(spark, sq, _sub_binding(sq), start, end, params,
                          _ctes=ctes)
            df = df.crossJoin(F.broadcast(sub_df.toDF(name)))
            names[id(s)] = name
        df = df.filter(
            _compile_expr(_subst_subqueries(conj, names), res, params=params)
        ).drop(*names.values())
    for i, (neg, sq, pairs, inner) in enumerate(exists_subs):
        # decorrelate: plan the subquery WITHOUT its correlated
        # conjuncts, projecting the inner join keys, then semi/anti
        # join the outer side on them — Catalyst's own EXISTS shape,
        # no per-row subquery execution. ORDER/LIMIT inside EXISTS are
        # meaningless and dropped.
        import dataclasses

        inner_where = None
        for cj in inner:
            inner_where = (
                cj if inner_where is None
                else Expr("and", children=[inner_where, cj])
            )
        key_fields = [
            FieldRef(ir.parts, alias=f"__ex{i}_k{j}")
            for j, (_, ir) in enumerate(pairs)
        ]
        sub = dataclasses.replace(
            sq, fields=key_fields, where=inner_where,
            order_by=[], limit=None, offset=None,
        )
        sub_df = plan(spark, sub, _sub_binding(sub), start, end, params,
                      _ctes=ctes)
        cond = None
        for j, (outer_ref, _) in enumerate(pairs):
            c = (
                _compile_expr(Expr("ref", value=outer_ref), res, params=params)
                == sub_df[f"__ex{i}_k{j}"]
            )
            cond = c if cond is None else cond & c
        df = df.join(sub_df, cond, "left_anti" if neg else "left_semi")

    # scalar subqueries in the SELECT list: each plans once and joins
    # in as a broadcast single-row cross join (the same decorrelated
    # shape WHERE-side scalar subqueries use); the select expression
    # then references the joined column. Plain projections only — in a
    # grouped/windowed select a per-row scalar has no defined grain.
    sel_sub_names: dict[int, str] = {}

    def _sub_nodes(e: Expr):
        if e.kind == "subquery":
            yield e
        for c in e.children:
            yield from _sub_nodes(c)

    _k_sel = 0
    for f in q.fields:
        if f.expr is None or not _has_subquery(f.expr):
            continue
        if q.group_by or windowed or any(x.func for x in q.fields):
            raise ValueError(
                "scalar subqueries in the SELECT list are supported in "
                "plain (non-grouped, non-windowed) projections only"
            )
        for s in _sub_nodes(f.expr):
            sq = s.value
            if (
                sq.group_by
                or len(sq.fields) != 1
                or sq.fields[0].func is None
                or sq.fields[0].window is not None
            ):
                raise ValueError(
                    "scalar subquery must be a single ungrouped aggregate — "
                    "the reference's Aggregate-as-expression shape "
                    "(query/base/expression.go:16-18)"
                )
            name = f"__sel_scalar_{_k_sel}"
            _k_sel += 1
            sub_df = plan(spark, sq, _sub_binding(sq), start, end, params,
                          _ctes=ctes)
            df = df.crossJoin(F.broadcast(sub_df.toDF(name)))
            sel_sub_names[id(s)] = name

    agg_map = {"count": F.count, "sum": F.sum, "avg": F.avg, "min": F.min,
               "max": F.max, "count_distinct": F.countDistinct,
               # DISTINCT variants: sum has a native Column fn; min/max
               # DISTINCT are the plain extrema (dedup is a no-op);
               # avg(DISTINCT) is special-cased in _agg_col (no Column
               # API — compiled via F.expr, still the one JVM-side
               # partial+final hash aggregate)
               "sum_distinct": F.sum_distinct,
               "min_distinct": F.min, "max_distinct": F.max,
               # one-arg statistical aggregates (plain-column form, so
               # they also resolve through post_name hidden columns
               # inside HAVING / post-aggregation expressions)
               "stddev_samp": F.stddev_samp, "stddev_pop": F.stddev_pop,
               "var_samp": F.var_samp, "var_pop": F.var_pop}

    def _agg_col(col, func, ref):
        flt = (
            _compile_expr(ref.filter_expr, res, params=params)
            if ref.filter_expr is not None
            else None
        )
        if func == "avg_distinct":
            if flt is not None:
                raise ValueError(
                    "avg(DISTINCT col) does not combine with FILTER"
                )
            return F.expr(f"avg(DISTINCT `{col}`)")
        if func in ("bool_and", "bool_or"):
            # ANSI boolean aggregates: the argument is a compiled
            # PREDICATE column; FILTER composes as the usual
            # null-passing CASE (aggregates skip NULLs)
            arg = _compile_expr(ref.arg_expr, res, params=params)
            if flt is not None:
                arg = F.when(flt, arg)
            return (F.bool_and if func == "bool_and" else F.bool_or)(arg)
        if func in _STAT_AGG_FNS:
            # statistical aggregates: native Welford-style partial+
            # final; FILTER composes by nulling the (first) operand —
            # corr/covar skip rows where EITHER operand is null, so
            # one nulled side excludes the row
            arg = _compile_expr(ref.arg_expr, res, params=params)
            if flt is not None:
                arg = F.when(flt, arg)
            if ref.arg2_expr is not None:
                arg2 = _compile_expr(ref.arg2_expr, res, params=params)
                return _STAT_AGG_FNS[func](arg, arg2)
            return _STAT_AGG_FNS[func](arg)
        if func in ("max_by", "min_by"):
            # two-arg argmax aggregates: native Spark max_by/min_by
            # (one JVM-side partial+final hash aggregate). FILTER
            # composes by nulling the ORDER operand — rows with a
            # NULL order operand are ignored by the aggregate, which
            # is exactly the FILTER exclusion semantics.
            arg = _compile_expr(ref.arg_expr, res, params=params)
            ordc = _compile_expr(ref.arg2_expr, res, params=params)
            if flt is not None:
                ordc = F.when(flt, ordc)
            return (F.max_by if func == "max_by" else F.min_by)(arg, ordc)
        if func in ("percentile_cont", "percentile_disc"):
            # ANSI inverse-distribution aggregates, lowered to Spark's
            # NATIVE percentile_cont / percentile_disc aggregate
            # expressions — one JVM-side partial+final
            # ObjectHashAggregate (plan-pinned in
            # tests/test_plan_shapes.py). Per-group state is the
            # group's value list, the documented contract of EXACT
            # percentiles in every engine (approx_percentile is the
            # bounded-state alternative, exposed as agg_approx_*).
            # DESC is handled natively by Spark (for _cont it equals
            # percentile_cont(1-f) ASC; for _disc it genuinely differs).
            if flt is not None:
                raise ValueError(
                    f"{func} does not combine with FILTER (WHERE ...)"
                )
            frac = ref.arg_expr.value
            r, d = ref.within_group[0]
            key = res.resolve(r)[1]
            return F.expr(
                f"{func}({frac!r}) WITHIN GROUP "
                f"(ORDER BY `{key}`{' DESC' if d else ''})"
            )
        if func == "string_agg":
            # string_agg(x, sep) WITHIN GROUP (ORDER BY k...): compiled
            # as array_join(transform(array_sort(collect_list(
            # struct(k..., x))), s -> s.x), sep) rather than Spark's
            # native listagg — struct sort makes ties break by the
            # VALUE deterministically (hash-certifiable on any engine;
            # native listagg leaves tie order unspecified). One
            # JVM-side partial+final hash aggregate; per-group state is
            # the group's value list, the same contract as collect_list
            # — bounded group sizes are the user's responsibility, as
            # in every SQL engine's string_agg.
            descs = {d for _, d in ref.within_group}
            if len(descs) > 1:
                raise ValueError(
                    "WITHIN GROUP (ORDER BY ...) keys must share one "
                    "direction (all ASC or all DESC) — mixed-direction "
                    "ordered-set aggregation is not supported"
                )
            if ref.arg_expr is not None:
                val = _compile_expr(ref.arg_expr, res, params=params)
            else:
                val = F.col(col)
            val = val.cast("string")
            ords = [
                F.col(res.resolve(r)[1]).alias(f"_o{i}")
                for i, (r, _d) in enumerate(ref.within_group)
            ]
            st = F.struct(*ords, val.alias("_v"))
            keep = val.isNotNull() if flt is None else (flt & val.isNotNull())
            arr = F.array_sort(F.collect_list(F.when(keep, st)))
            if descs == {True}:
                arr = F.reverse(arr)
            return F.array_join(
                F.transform(arr, lambda s: s["_v"]), ref.sep
            )
        if ref.arg_expr is not None:
            arg = _compile_expr(ref.arg_expr, res, params=params)
        elif col is not None:
            arg = F.col(col)
        else:
            arg = F.lit(1)  # count(*)
        if flt is not None:
            # ANSI FILTER: agg(CASE WHEN pred THEN x END) — aggregates
            # ignore NULLs, which IS the FILTER exclusion semantics
            arg = F.when(flt, arg)
        if col is None and ref.arg_expr is None:
            return F.count(arg)
        return agg_map[func](arg)

    aggs = [
        _agg_col(col, func, ref).alias(alias)
        for alias, col, func, ref in sel
        if func and ref.window is None
    ]
    post_name = None
    hidden: dict[tuple, str] = {}
    post_agg_fields = [
        f for f in q.fields
        if f.expr is not None and f.alias in post_agg_computed
    ]
    if q.group_by or aggs or post_agg_fields:
        # a group key keeps the SELECT item's alias when one names the
        # same physical column (SELECT a.x AS k ... GROUP BY a.x must
        # output column k, not x)
        sel_alias_of: dict[str, str] = {}
        for alias, scol, fn2, _r in sel:
            if fn2 is None and scol is not None and alias:
                sel_alias_of.setdefault(scol, alias)
        gfinal = {}
        for g in q.group_by:
            if len(g.parts) == 1 and g.parts[0] in group_computed:
                # INTERNAL name: materializing under the user alias
                # would overwrite a same-named physical column that
                # other aggregates still read (SELECT floor(x) AS value
                # ... sum(x) would silently sum the bucket)
                gfinal[f"_gk_{g.parts[0]}"] = g.parts[0]
                continue
            phys = res.resolve(g)[1]
            gfinal[phys] = sel_alias_of.get(phys, res.default_name(g))
        # materialize computed group keys as columns before the groupBy.
        # A computed alias that ALSO names a physical source column is
        # ambiguous (Spark's own precedence would group by the column,
        # ours by the alias expression — SELECT floor(x) AS value ...
        # GROUP BY value would silently group by the bucket): refuse
        # loudly, same contract as the _gk_ collision check below.
        for a in sorted(group_computed):
            if a in df.columns:
                raise ValueError(
                    f"GROUP BY {a} is ambiguous: {a!r} is both a computed "
                    "select alias and a physical column of the source — "
                    "rename the alias (Spark precedence would pick the "
                    "column; this dialect refuses instead of guessing)"
                )
            if f"_gk_{a}" in df.columns:
                raise ValueError(
                    f"column _gk_{a} collides with the internal "
                    "computed-group-key marker — rename it"
                )
            df = df.withColumn(
                f"_gk_{a}", _compile_expr(computed_exprs[a], res, params=params)
            )
        gcols = [
            F.col(phys).alias(name) for phys, name in gfinal.items()
        ]
        gphys = set(gfinal)
        gnames = set(gfinal.values())
        out_names = {alias for alias, _, _, _ in sel}
        # plain non-grouped select fields default to AVG (GROUP BY is a
        # declared-only stub in the reference, query/base/expression.go:
        # 22-25; explicit count/sum/avg/min/max calls override this)
        aggs += [
            F.avg(col).alias(alias)
            for alias, col, func, _ in sel
            if not func and col is not None and col not in gphys
        ]

        def post_name(ref: FieldRef) -> str:
            """Resolve a ref in post-aggregation scope (HAVING / ORDER BY):
            select aliases and group-by names pass through; aggregate
            calls match a select entry or become a hidden aggregate
            (registered before .agg(), dropped after)."""
            if ref.func is None:
                if len(ref.parts) == 1 and (
                    ref.parts[0] in out_names or ref.parts[0] in gnames
                ):
                    return ref.parts[0]
                col = res.resolve(ref)[1]
                if col in gfinal:
                    return gfinal[col]
                raise ValueError(
                    f"{'.'.join(ref.parts)} is neither grouped nor aggregated"
                )
            col = res.resolve(ref)[1] if ref.parts else None
            for alias, scol, fn2, r4 in sel:
                # an expression-argument aggregate (scol None) must not
                # shadow count(*) / plain-column lookups; a FILTERed
                # aggregate is a DIFFERENT value than its unfiltered
                # twin and must never satisfy a HAVING/ORDER lookup
                if (
                    fn2 == ref.func
                    and scol == col
                    and r4.arg_expr is None
                    and r4.filter_expr is None
                ):
                    return alias
            if ref.func == "avg":  # matches the default-AVG select fields
                for alias, scol, fn2, _ in sel:
                    if fn2 is None and scol == col and col not in gphys:
                        return alias
            key = (ref.func, col)
            if key not in hidden:
                name = f"_h_{ref.func}_{col or 'star'}"
                hidden[key] = name
                aggs.append(
                    (
                        agg_map[ref.func](F.col(col))
                        if col is not None
                        else F.count(F.lit(1))
                    ).alias(name)
                )
            return hidden[key]

        # pre-register hidden aggregates referenced by HAVING / ORDER BY
        # and by post-aggregation computed expressions (they must all
        # land inside the ONE .agg() pass)
        if q.having is not None:
            for ref in _expr_refs(q.having):
                post_name(ref)
        for ref, _desc, _nulls in q.order_by:
            post_name(ref)
        for f in post_agg_fields:
            for ref in _expr_refs(f.expr):
                post_name(ref)

        if gcols:
            if q.group_mode == "rollup":
                df = df.rollup(*gcols).agg(*aggs)
            elif q.group_mode == "cube":
                df = df.cube(*gcols).agg(*aggs)
            elif q.group_mode == "grouping_sets":
                # native Expand in ONE scan pass (the same physical
                # plan SQL GROUPING SETS compiles to). Sets and cols
                # must be the RAW physical columns — Spark matches set
                # entries against the grouping columns by canonicalized
                # expression, and an alias wrapper breaks the match
                # (every key comes back NULL); output names apply in a
                # rename afterwards.
                def _set_phys(g: FieldRef) -> str:
                    if len(g.parts) == 1 and g.parts[0] in group_computed:
                        return f"_gk_{g.parts[0]}"
                    return res.resolve(g)[1]

                sets_cols = [
                    [F.col(_set_phys(g)) for g in s]
                    for s in (q.grouping_sets or [])
                ]
                df = df.groupingSets(
                    sets_cols, *[F.col(p) for p in gfinal]
                ).agg(*aggs)
                df = df.withColumnsRenamed(
                    {p: n for p, n in gfinal.items() if p != n}
                )
            elif aggs:
                df = df.groupBy(*gcols).agg(*aggs)
            else:
                df = df.select(*gcols).distinct()
        else:
            df = df.agg(*aggs)  # global aggregate
        # post-aggregation computed projections: arithmetic over the
        # aggregated row's columns — plain Catalyst expressions, no
        # second aggregate pass (refs resolved through post_name into
        # select aliases / hidden aggregate columns above)
        for f in post_agg_fields:
            df = df.withColumn(
                f.alias,
                _compile_expr(f.expr, res, name_of=post_name,
                              params=params),
            )
    elif windowed:
        # analytic select: each fn(...) OVER (...) compiles to a Spark
        # Window — partitioned (and, for ranking/navigation, ordered)
        # per its spec; plain fields project through unchanged
        from pyspark.sql import Window as _W

        rank_map = {
            "rank": F.rank, "dense_rank": F.dense_rank,
            "row_number": F.row_number, "percent_rank": F.percent_rank,
            "cume_dist": F.cume_dist,
        }
        nav_map = {"lag": F.lag, "lead": F.lead}
        proj = []
        for alias, col, func, ref in sel:
            if ref.window is None:
                if ref.expr is not None:
                    proj.append(
                        _compile_expr(ref.expr, res, params=params).alias(alias)
                    )
                else:
                    proj.append(F.col(col).alias(alias))
                continue
            pb_cols = [
                F.col(res.resolve(p)[1]) for p in ref.window.partition_by
            ]
            wspec = _W.partitionBy(*pb_cols)
            range_ns = (
                ref.window.frame is not None
                and ref.window.frame_type == "range_ns"
            )
            groups_frame = (
                ref.window.frame is not None
                and ref.window.frame_type == "groups"
            )
            if groups_frame:
                # ANSI GROUPS frame lowered onto Spark: peer groups are
                # dense_rank() of the ORDER BY key, and GROUPS BETWEEN
                # n PRECEDING AND m FOLLOWING is rangeBetween(-n, m)
                # over that rank (rank distance == peer-group distance;
                # CURRENT ROW -> offset 0 -> the whole peer group, per
                # ANSI GROUPS semantics). Both window passes share the
                # (partition, order) sort -> ONE Exchange in the plan
                # (pinned by tests/test_plan_shapes.py).
                if not ref.window.order_by:
                    raise ValueError(
                        "GROUPS frames require ORDER BY in the window "
                        "spec (peer groups are defined by the sort key)"
                    )
                gname = f"_grp_{len(proj)}"
                rank_w = _W.partitionBy(*pb_cols).orderBy(
                    *[
                        F.col(res.resolve(o)[1]).desc()
                        if d
                        else F.col(res.resolve(o)[1]).asc()
                        for o, d in ref.window.order_by
                    ]
                )
                df = df.withColumn(gname, F.dense_rank().over(rank_w))
                wspec = wspec.orderBy(F.col(gname).asc())
            if range_ns:
                # RANGE INTERVAL frame: exactly one ascending ORDER BY
                # time column, ordered by its ns conversion so the
                # frame's ns offsets are comparable whatever the ts
                # representation (INT64-ns or TIMESTAMP — same rule as
                # the certified ts_moving_time_avg/ts_bollinger shape)
                if len(ref.window.order_by) != 1 or ref.window.order_by[0][1]:
                    raise ValueError(
                        "RANGE INTERVAL frames require exactly one "
                        "ascending ORDER BY time column"
                    )
                from boostdb_spark.functions.scalar import ts_ns

                ocol = res.resolve(ref.window.order_by[0][0])[1]
                wspec = wspec.orderBy(ts_ns(df, ocol))
            elif ref.window.order_by and not groups_frame:
                wspec = wspec.orderBy(
                    *[
                        F.col(res.resolve(o)[1]).desc()
                        if d
                        else F.col(res.resolve(o)[1]).asc()
                        for o, d in ref.window.order_by
                    ]
                )
            wnoframe = wspec  # pre-frame spec: exclusion rewrites
            #                   derive sibling frames from it
            if ref.window.frame is not None:
                # rank/offset functions are frame-insensitive by ANSI
                # definition; first_value/last_value ARE frame-sensitive
                # (that is what makes last_value(...) IGNORE NULLS over
                # a preceding frame the LOCF idiom) and accept one
                if func in rank_map or func in ("lag", "lead", "ntile"):
                    raise ValueError(
                        f"{func}() does not take a frame clause"
                    )
                if range_ns or groups_frame:
                    # translate the parser's +/-(2^63-1) UNBOUNDED
                    # sentinels to Spark's Window.unbounded* (2^63):
                    # anything else is a literal offset added to the
                    # ordering value, which would overflow long
                    lo, hi = ref.window.frame
                    unb = (1 << 63) - 1
                    if lo <= -unb:
                        lo = _W.unboundedPreceding
                    if hi >= unb:
                        hi = _W.unboundedFollowing
                    wspec = wspec.rangeBetween(lo, hi)
                else:
                    wspec = wspec.rowsBetween(*ref.window.frame)
            if ref.window.exclude is not None and (
                func in rank_map
                or func in nav_map
                or func in ("ntile", "first_value", "last_value")
            ):
                raise ValueError(
                    f"EXCLUDE is not supported with {func}() — frame "
                    "exclusion rewrites apply to sum/count/avg/min/max"
                )
            if func in rank_map:
                c = rank_map[func]().over(wspec)
            elif func == "ntile":
                c = F.ntile(ref.arg_expr.value).over(wspec)
            elif func in ("first_value", "last_value"):
                nav_fn = F.first if func == "first_value" else F.last
                c = nav_fn(F.col(col), ignorenulls=ref.ignore_nulls).over(
                    wspec
                )
            elif func in nav_map:
                c = nav_map[func](F.col(col)).over(wspec)
            else:
                if ref.arg_expr is not None:
                    xc = _compile_expr(ref.arg_expr, res, params=params)
                elif col is None:
                    xc = None  # count(*)
                else:
                    xc = F.col(col)
                if ref.window.exclude is not None:
                    c = _window_exclude(
                        func, xc, ref.window, wspec, wnoframe, agg_map
                    )
                elif xc is None:
                    c = F.count(F.lit(1)).over(wspec)
                else:
                    c = agg_map[func](xc).over(wspec)
            proj.append(c.alias(alias))
        df = df.select(*proj)
        if q.qualify is not None:
            # QUALIFY: filter the analytic projection by its OUTPUT
            # names (select aliases) — evaluated after the window
            # functions, before DISTINCT/ORDER/LIMIT, per the
            # DuckDB/Snowflake contract
            out_cols = df.columns

            def qual_name(ref: FieldRef) -> str:
                if ref.func is not None or ref.window is not None:
                    raise ValueError(
                        "QUALIFY references select-list output names — "
                        "alias the window item and filter on the alias"
                    )
                if len(ref.parts) == 1 and ref.parts[0] in out_cols:
                    return ref.parts[0]
                raise ValueError(
                    f"QUALIFY must name an output column (one of "
                    f"{out_cols}), got {'.'.join(ref.parts)}"
                )

            df = df.filter(
                _compile_expr(q.qualify, res, name_of=qual_name, params=params)
            )
    elif q.star:
        # SELECT *: the scan's full column set; EXCLUDE drops named
        # columns from the expansion (DuckDB/Snowflake surface) — the
        # drop happens BEFORE the scan executes, so Catalyst's column
        # pruning still narrows the parquet ReadSchema
        if q.exclude:
            missing = [c for c in q.exclude if c not in df.columns]
            if missing:
                raise ValueError(
                    f"EXCLUDE names unknown columns {missing} "
                    f"(source columns: {df.columns})"
                )
            df = df.drop(*q.exclude)
    else:
        proj_cols = []
        for alias, col, _, ref in sel:
            if ref.expr is not None:
                e2 = (
                    _subst_subqueries(ref.expr, sel_sub_names)
                    if sel_sub_names
                    else ref.expr
                )
                proj_cols.append(
                    _compile_expr(e2, res, params=params).alias(alias)
                )
            else:
                proj_cols.append(F.col(col).alias(alias))
        df = df.select(*proj_cols)

    if q.having is not None:
        df = df.filter(_compile_expr(q.having, res, name_of=post_name, params=params))
    if q.distinct:
        # SELECT DISTINCT dedups the visible projection; hidden
        # HAVING/ORDER-only aggregates would silently change what
        # "distinct" means, so that combination is rejected
        if hidden:
            raise ValueError(
                "SELECT DISTINCT cannot combine with HAVING/ORDER BY "
                "aggregates that are not in the select list"
            )
        df = df.distinct()
    if q.distinct_on:
        # DISTINCT ON (k, ...): one survivor per key group, chosen by
        # the residual ORDER BY keys (postgres semantics). Compiled as
        # ONE row_number window partitioned by the keys — never a
        # self-join; the ORDER BY must lead with the ON columns
        # (postgres rule) and carry >=1 extra key so the survivor is
        # deterministic under the hash gate.
        if hidden:
            raise ValueError(
                "DISTINCT ON cannot combine with HAVING/ORDER BY "
                "aggregates that are not in the select list"
            )
        out_cols = df.columns

        def don_name(ref: FieldRef) -> str:
            if ref.func is not None or len(ref.parts) != 1:
                raise ValueError(
                    "DISTINCT ON and its ORDER BY reference select-list "
                    "output columns by name"
                )
            if ref.parts[0] not in out_cols:
                raise ValueError(
                    f"DISTINCT ON/ORDER BY must name an output column "
                    f"(one of {out_cols}), got {ref.parts[0]}"
                )
            return ref.parts[0]

        keys = [don_name(r) for r in q.distinct_on]
        if len(q.order_by) <= len(keys):
            raise ValueError(
                "DISTINCT ON requires ORDER BY to lead with the ON "
                "columns and add at least one tiebreak key (which row "
                "survives is undefined otherwise)"
            )
        lead_keys = [don_name(r) for r, _, _ in q.order_by[: len(keys)]]
        if lead_keys != keys:
            raise ValueError(
                f"ORDER BY must lead with the DISTINCT ON columns "
                f"{keys} (postgres rule), got {lead_keys}"
            )
        from pyspark.sql import Window as _W

        rest = [
            _order_col(don_name(r), d, n)
            for r, d, n in q.order_by[len(keys):]
        ]
        won = _W.partitionBy(*keys).orderBy(*rest)
        df = (
            df.withColumn("_don", F.row_number().over(won))
            .filter(F.col("_don") == 1)
            .drop("_don")
        )
    if q.order_by:
        order = []
        ord_hidden: list[str] = []
        ord_targets: list[str] = []  # resolved sort-key column names
        for i, (ref, desc, nulls) in enumerate(q.order_by):
            if ref.expr is not None:
                # ORDER BY <expression>: refs must name select-list
                # OUTPUT columns (post-projection scope, like QUALIFY);
                # compiled into a hidden column, dropped after the sort

                def _ord_ref(r: FieldRef) -> str:
                    if (
                        r.func is not None
                        or len(r.parts) != 1
                        or r.parts[0] not in df.columns
                    ):
                        raise ValueError(
                            "ORDER BY expressions may reference "
                            "select-list output columns only "
                            f"(got {'.'.join(r.parts)!r}; columns: "
                            f"{sorted(df.columns)})"
                        )
                    return r.parts[0]

                cname = f"__ord_{i}"
                df = df.withColumn(
                    cname,
                    _compile_expr(ref.expr, res, name_of=_ord_ref,
                                  params=params),
                )
                ord_hidden.append(cname)
                ord_targets.append(cname)
                order.append(_order_col(cname, desc, nulls))
                continue
            if post_name is not None:
                target = post_name(ref)
            elif (
                ref.func is None
                and len(ref.parts) == 1
                and ref.parts[0] in df.columns
            ):
                # a select alias / output column name wins over value
                # sugar (ORDER BY eid must not resolve to the value col)
                target = ref.parts[0]
            else:
                name = res.default_name(ref)
                target = name if name in df.columns else res.resolve(ref)[1]
            ord_targets.append(target)
            order.append(_order_col(target, desc, nulls))
        df = df.orderBy(*order)
        if ord_hidden:
            # dropped AFTER offset/limit below would also work; doing it
            # here keeps the sort columns out of the paged projection
            pass
    if q.offset is not None:
        df = df.offset(q.offset)
    if q.limit is not None:
        if q.limit_ties:
            # LIMIT n WITH TIES: every row whose FULL sort-key tuple
            # appears in the top-n page is kept. Planned as a broadcast
            # left-semi join against the page's DISTINCT sort keys —
            # never a global rank() window, which would move the whole
            # relation through one partition; the page is n rows by
            # construction, so the probe side is always broadcast-sized
            # and the corpus streams through the semi join.
            tkeys = list(dict.fromkeys(ord_targets))
            pg = (
                df.select(*tkeys)
                .limit(q.limit)
                .distinct()
                .select(
                    *[
                        F.col(c).alias(f"__tie_{j}")
                        for j, c in enumerate(tkeys)
                    ]
                )
            )
            cond = None
            for j, c in enumerate(tkeys):
                e = F.col(c).eqNullSafe(F.col(f"__tie_{j}"))
                cond = e if cond is None else cond & e
            df = df.join(F.broadcast(pg), cond, "left_semi")
            df = df.orderBy(*order)  # UX parity with plain LIMIT
        else:
            df = df.limit(q.limit)
    if q.order_by and ord_hidden:
        df = df.drop(*ord_hidden)
    if hidden:
        df = df.drop(*hidden.values())
    return df


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
