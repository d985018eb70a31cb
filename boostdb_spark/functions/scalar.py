"""Scalar function surface.

The reference parses NO scalar functions at all — its WHERE grammar
accepts only literals and column refs (query/parser/whereparser.go:
136-287), and SURVEY.md section 2.5 marks the whole string/date/math/
json surface ABSENT. On Spark the surface is ``pyspark.sql.functions``;
this module adds only the engine-specific helpers: ns-native time
conversions (the reference is ns-native, core/seriesfamily.go:23),
JSON attribute access for the ``props``-style per-datapoint attribute
column (the reference's attributes, core/seriesfamily.go:19-26), and a
vectorized Pandas-UDF example showing the Arrow path for logic that
genuinely needs Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def ns_to_micros(col: Column | str) -> Column:
    """INT64 nanoseconds -> INT64 microseconds, truncated toward zero
    (integer ``div`` — ns-scale longs must never route through a double,
    which rounds above 2^53; Spark's ``/`` divides longs as doubles)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.call_function("div", c, F.lit(1000))


def ns_to_timestamp(col: Column | str) -> Column:
    """INT64 nanoseconds -> TimestampType (µs precision, truncated —
    matching how engines that lack ns (and DuckDB's parquet reader)
    narrow TIMESTAMP(NANOS)). The % subtraction makes the numerator an
    exact multiple of 1000 before the decimal divide, so no rounding
    anywhere (a double route would round: ns-scale longs exceed 2^53)."""
    c = F.col(col) if isinstance(col, str) else col
    exact_us = ((c - (c % 1000)).cast("decimal(25,0)") / 1000).cast("long")
    return F.timestamp_micros(exact_us)


def ts_ns(df, col: str = "ts") -> Column:
    """Long nanoseconds from a ts column of EITHER representation —
    INT64-ns (ns-native ingest, nanosAsLong) passes through; TIMESTAMP
    converts via unix_micros (epoch-based, zone-independent);
    TIMESTAMP_NTZ via wall-clock ``timestampdiff`` against the NTZ
    epoch — a cast to TIMESTAMP would apply the session time zone and
    silently shift every bound under a non-UTC session. Exact (µs data
    has zero sub-µs information) and stays in whole-stage codegen."""
    dt = dict(df.dtypes)[col]
    c = F.col(col)
    if dt in ("bigint", "long"):
        return c
    if dt == "timestamp_ntz":
        us = F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', `{col}`)"
        )
        return us * F.lit(1000)
    return F.unix_micros(c.cast("timestamp")) * F.lit(1000)


def ts_sql(dtype: str, ns: int) -> str:
    """SQL text of a literal comparable to a column of ``dtype`` (a
    ``DataFrame.dtypes`` name) in its NATIVE dtype, from an INT64-ns
    instant. Native-dtype comparison is what keeps the predicate
    eligible for parquet pushdown (a cast wrapped around the *column*
    would block PushedFilters; a cast around the *literal*
    constant-folds away before pushdown runs). Text rather than a
    Column so a caller can put several bounds in one ``F.expr``: each
    Column call is a py4j round trip."""
    if dtype in ("bigint", "long"):
        # typed as F.lit types a Python int: INT, or BIGINT past int32
        return str(ns)
    # ceiling division ns -> µs: for a µs-grid column t and any ns bound
    # b, both `t >= b` and `t < b` are exactly `t_us >= ceil(b/1000)` /
    # `t_us < ceil(b/1000)` — floor would off-by-one non-aligned bounds
    us = -((-ns) // 1000)
    if dtype == "timestamp_ntz":
        # NTZ literal built from the UTC wall string: a TIMESTAMP ->
        # NTZ cast would shift by the session zone offset
        from datetime import datetime, timedelta

        wall = datetime(1970, 1, 1) + timedelta(microseconds=us)
        return f"TIMESTAMP_NTZ'{wall.isoformat(sep=' ')}'"
    return f"CAST(timestamp_micros({us}) AS {dtype})"


def ts_lit(df, ns: int, col: str = "ts") -> Column:
    """``ts_sql`` of ``col``'s dtype in ``df`` as one Column."""
    return F.expr(ts_sql(dict(df.dtypes)[col], ns))


def _ident(name: str) -> str:
    """SQL text of a column or relation name, backquoted."""
    return "`" + name.replace("`", "``") + "`"


def _lit(v) -> str:
    """SQL text of a literal, typed the way ``F.lit`` types the Python
    value: ints INT (BIGINT past int32), floats DOUBLE — never a SQL
    decimal, which would change the result types."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        s = str(v) if -(2**31) <= v < 2**31 else f"{v}L"
        return f"({s})" if v < 0 else s
    if isinstance(v, float):
        return f"({v!r}D)" if v < 0 else f"{v!r}D"
    # NUL as its SQL escape: the dialect emitter delimits frame slots
    # with NUL (plans/sugar.py, _SLOT)
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'").replace(
        "\x00", "\\u0000"
    ) + "'"


def json_prop(col: Column | str, key: str) -> Column:
    """Extract a top-level key from a JSON attribute column as string —
    per-datapoint attribute access (core/seriesfamily.go:19-26) for
    open-ended props.

    Uses ``from_json`` with a single-field schema rather than
    ``get_json_object``: the document parses once into a struct
    (measured ~2x faster at sf0.1) with identical semantics — missing
    key and malformed JSON both yield NULL, value returned as string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, f"`{key}` STRING").getField(key)


def ts_parts(ts: Column | str, prefix: str = "") -> list[Column]:
    """Calendar parts (year/month/day/hour/dow) from a timestamp —
    the partition-derivation helpers for time-partitioned layouts."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return [
        F.year(c).alias(f"{prefix}year"),
        F.month(c).alias(f"{prefix}month"),
        F.dayofmonth(c).alias(f"{prefix}day"),
        F.hour(c).alias(f"{prefix}hour"),
        F.dayofweek(c).alias(f"{prefix}dow"),
    ]


def _lazy_pandas_udf(return_type: str):
    """Defer ``pandas_udf`` registration to first call: pyspark 4.x
    parses the return-type DDL at decoration time, which needs a live
    SparkContext — and this module must stay importable session-free
    (test collection, docs tooling)."""

    def deco(fn):
        import functools

        cache: dict = {}

        @functools.wraps(fn)
        def wrapper(*cols):
            if "udf" not in cache:
                cache["udf"] = pandas_udf(return_type)(fn)
            return cache["udf"](*cols)

        return wrapper

    return deco


@_lazy_pandas_udf("double")
def pandas_scale_clip(v: pd.Series) -> pd.Series:
    """Vectorized (Arrow-batched) clip-and-scale: clip to [0, 100] then
    scale to [0, 1]. Exists to exercise/demonstrate the pandas_udf slow
    path contract — integer-free arithmetic, bit-identical to the SQL
    form ``GREATEST(LEAST(v,100),0)/100`` — NOT because this needs
    Python; anything expressible stays JVM-side (SURVEY.md section 2.5).
    """
    return v.clip(lower=0.0, upper=100.0) / 100.0


@_lazy_pandas_udf("double")
def pandas_udaf_range(v: pd.Series) -> float:  # GROUPED_AGG by signature
    """Pandas UDAF (grouped-aggregate pandas_udf, Series -> scalar):
    per-group value range (max - min). Order-independent by
    construction, so deterministic under Spark's arbitrary partition
    ordering — the property any Python UDAF must have (sums of floats
    would not be)."""
    if len(v) == 0:
        return None
    return float(v.max() - v.min())
