"""Time-series operators — the "rich set of time-series functions" the
reference declares as its north star (reference README.md:8) but never
implements. All are declarative DataFrame compositions: Catalyst keeps
them in whole-stage codegen; no Python hits the hot path.

Conventions: ``ts`` may be TimestampType or INT64 nanoseconds (the
reference is ns-native, core/seriesfamily.go:23; the driver's ``events``
fixture reads as INT64 ns under ``nanosAsLong``). Operators accept either
and say which they return.

Scale notes per operator are inline — each was designed for a
1000-executor / 100 TB shape first, then tested at small SF.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from boostdb_spark.functions.scalar import ts_ns

# re-exported: callers use timeseries.topk_per_group
from boostdb_spark.operators.common import topk_per_group  # noqa: F401

NS_PER_SEC = 1_000_000_000


def _is_long_ts(df: DataFrame, ts_col: str) -> bool:
    return dict(df.dtypes)[ts_col] in ("bigint", "long")


def time_bucket(
    df: DataFrame,
    bucket_seconds: int,
    ts_col: str = "ts",
    out_col: str = "bucket",
) -> DataFrame:
    """Assign each row to a tumbling time bucket (floor of ts).

    INT64-ns input -> INT64-ns bucket start (pure integer arithmetic, so
    a DuckDB oracle reproduces it bit-exactly); timestamp input ->
    timestamp bucket via ``F.window``. At scale this is a narrow map —
    no shuffle until the downstream groupBy, which AQE coalesces.
    """
    if _is_long_ts(df, ts_col):
        span = bucket_seconds * NS_PER_SEC
        b = (F.col(ts_col) - (F.col(ts_col) % F.lit(span))).cast("long")
        return df.withColumn(out_col, b)
    w = F.window(F.col(ts_col), f"{bucket_seconds} seconds")
    return df.withColumn(out_col, w.start)


def bucket_agg(
    df: DataFrame,
    bucket_seconds: int,
    keys: Sequence[str],
    aggs: Sequence[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window aggregate: the reference's time-sliced execution
    (query/executor/executor.go:239-252) expressed as a single grouped
    aggregation instead of a driver loop over slices.

    One shuffle on (bucket, keys); map-side partial aggregation is
    automatic. Survives 100x data: bucket keys are dense and uniform, so
    no skew; AQE coalesces small reduce partitions.
    """
    bdf = time_bucket(df, bucket_seconds, ts_col=ts_col)
    return bdf.groupBy("bucket", *keys).agg(*aggs)


def _series_window(series_cols: Sequence[str], ts_col: str, order_extra: Sequence[str] = ()):
    return Window.partitionBy(*series_cols).orderBy(ts_col, *order_extra)


def _grid6(c):
    """The integer 1e-6 grid: floor(x*1e6 + 0.5), a whole double."""
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5))


def _q6(c):
    """Engine-neutral 6dp quantizer: floor(x*1e6 + 0.5)/1e6 — every
    step is an IEEE op computed identically everywhere, unlike round()
    (Spark rounds the SHORTEST DECIMAL REPR via BigDecimal, DuckDB the
    binary value — they disagree exactly at half boundaries, which
    /count rationals hit routinely)."""
    return _grid6(c) / F.lit(1000000.0)


def _mean(c):
    """Exact mean of a group: the decimal(18,6) sum as a double over
    the group's row count."""
    return F.sum(c.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))


def _bucket_means(
    df: DataFrame,
    bucket_seconds: int,
    keys: Sequence[str],
    value_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-(bucket, keys) exact mean ``_m`` of the non-NULL values (a
    bucket whose values are all NULL has no row)."""
    return bucket_agg(
        df.filter(F.col(value_col).isNotNull()),
        bucket_seconds,
        keys=list(keys),
        aggs=[_mean(F.col(value_col)).alias("_m")],
        ts_col=ts_col,
    )


def _bucket_list(df: DataFrame, keys: Sequence[str], *fields: str) -> DataFrame:
    """Per ``keys``, the bucket-sorted list ``_a`` of
    struct(bucket, fields...) and its length ``n``."""
    return df.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("bucket", *fields))).alias("_a"),
        F.count(F.lit(1)).alias("n"),
    )


def _fold(expr):
    """Left fold of ``expr`` over the list ``_a``, from 0.0."""
    return F.aggregate(F.col("_a"), F.lit(0.0), expr)


def _pearson(pairs: DataFrame, keys: Sequence[str], out_col: str) -> DataFrame:
    """Pearson correlation of ``_x`` and ``_y`` per ``keys`` over the
    aligned (bucket, _x, _y) rows of ``pairs``: five bucket-ordered
    fold sums and one fixed double formula. Returns (keys..., n,
    out_col)."""
    agg = _bucket_list(pairs, keys, "_x", "_y")
    sx = _fold(lambda acc, t: acc + t["_x"])
    sy = _fold(lambda acc, t: acc + t["_y"])
    sxy = _fold(lambda acc, t: acc + t["_x"] * t["_y"])
    sxx = _fold(lambda acc, t: acc + t["_x"] * t["_x"])
    syy = _fold(lambda acc, t: acc + t["_y"] * t["_y"])
    nd = F.col("n").cast("double")
    corr = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return agg.select(*keys, "n", corr.alias(out_col))


def _bucket_values(
    df: DataFrame,
    bucket_seconds: int,
    keys: Sequence[str],
    value_col: str,
    ts_col: str,
) -> DataFrame:
    """Per (bucket, keys) the sorted non-NULL values ``_v`` (as
    doubles) and their count ``n``."""
    return bucket_agg(
        df.filter(F.col(value_col).isNotNull()),
        bucket_seconds,
        keys=list(keys),
        aggs=[
            F.array_sort(F.collect_list(F.col(value_col).cast("double"))).alias("_v"),
            F.count(F.lit(1)).alias("n"),
        ],
        ts_col=ts_col,
    )


def _interp(arr, n, pos):
    """The value at 0-based fractional position ``pos`` of the sorted
    array ``arr`` of length ``n``, linearly interpolated between its
    two neighbours."""
    lo = F.floor(pos).cast("long")
    frac = pos - lo.cast("double")
    v_lo = F.element_at(arr, (lo + 1).cast("int"))
    v_hi = F.element_at(arr, F.least(lo + 2, n).cast("int"))
    return v_lo + frac * (v_hi - v_lo)


def delta(
    df: DataFrame,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    out_col: str = "delta",
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """value - lag(value) per series, time-ordered.

    The per-series ordered traversal the reference's merge iterator
    provides (client/boostseriesiterator.go:301-343), as a window
    function. One shuffle on the series key; at 100 TB, series cardinality
    is high so partitions are balanced.
    """
    w = _series_window(series_cols, ts_col, order_extra)
    return df.withColumn(out_col, F.col(value_col) - F.lag(value_col).over(w))


def rate(
    df: DataFrame,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    out_col: str = "rate",
    order_extra: Sequence[str] = (),
    ticks_per_second: float = float(NS_PER_SEC),
) -> DataFrame:
    """Per-second rate of change between consecutive datapoints of a
    series: (v - lag(v)) / ((ts - lag(ts)) / ticks_per_second), for an
    integer ``ts`` column (ns by default; pass 1e6 for µs ticks).
    NULL on the first point of each series and on zero time gaps.
    """
    w = _series_window(series_cols, ts_col, order_extra)
    dv = F.col(value_col) - F.lag(value_col).over(w)
    dt = (F.col(ts_col) - F.lag(ts_col).over(w)).cast("double")
    return df.withColumn(
        out_col, F.when(dt > 0, dv / (dt / F.lit(float(ticks_per_second))))
    )


def counter_increase(
    df: DataFrame,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    out_col: str = "increase",
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Monotonic-counter increase with reset handling (the Prometheus
    increase/rate convention): v - lag(v) when the counter advanced,
    the raw v after a reset (v < lag(v)), NULL on each series' first
    point. Same one-shuffle per-series window as delta/rate."""
    w = _series_window(series_cols, ts_col, order_extra)
    prev = F.lag(value_col).over(w)
    v = F.col(value_col)
    return df.withColumn(
        out_col,
        F.when(prev.isNull(), F.lit(None)).when(v >= prev, v - prev).otherwise(v),
    )


def resample(
    df: DataFrame,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    how: str = "avg",
) -> DataFrame:
    """Downsample each series to one row per bucket (avg/min/max/sum/
    count/first/last). Returns (series..., bucket, value).

    first/last are time-ordered via max_by/min_by on ts — a single
    hash aggregate, no window shuffle.
    """
    bdf = time_bucket(df, bucket_seconds, ts_col=ts_col)
    v = F.col(value_col)
    fns = {
        "avg": F.avg(v),
        "min": F.min(v),
        "max": F.max(v),
        "sum": F.sum(v),
        "count": F.count(v),
        "first": F.min_by(v, F.col(ts_col)),
        "last": F.max_by(v, F.col(ts_col)),
    }
    if how not in fns:
        raise ValueError(f"how must be one of {sorted(fns)}")
    return bdf.groupBy(*series_cols, "bucket").agg(fns[how].alias(value_col))


def gap_fill(
    resampled: DataFrame,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    fill: str = "locf",
) -> DataFrame:
    """Fill missing buckets per series between its min and max bucket.

    ``fill``: 'null' (emit row, NULL value), 'locf' (last observation
    carried forward), 'zero', 'interp' (linear interpolation between
    the nearest observed buckets; leading/trailing gaps stay NULL).
    INT64-ns buckets.

    Scale: the bucket spine is generated per series with ``sequence`` +
    ``explode`` (distributed, no driver loop); LOCF/interp are running
    windows per series — one shuffle total. Interp computes the gap
    fraction in BUCKET UNITS (integer div by the span, then double):
    raw ns deltas can exceed 2^53 and would round in a double.
    """
    span = bucket_seconds * NS_PER_SEC
    spine = (
        resampled.groupBy(*series_cols)
        .agg(F.min("bucket").alias("_b0"), F.max("bucket").alias("_b1"))
        .select(
            *series_cols,
            F.explode(F.sequence(F.col("_b0"), F.col("_b1"), F.lit(span))).alias("bucket"),
        )
    )
    joined = spine.join(resampled, on=[*series_cols, "bucket"], how="left")
    if fill == "null":
        return joined
    if fill == "zero":
        return joined.withColumn(value_col, F.coalesce(F.col(value_col), F.lit(0.0)))
    wb = _series_window(series_cols, "bucket")
    wp = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if fill == "locf":
        return joined.withColumn(
            value_col, F.last(F.col(value_col), ignorenulls=True).over(wp)
        )
    if fill == "interp":
        wn = wb.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        v = F.col(value_col)
        known_b = F.when(v.isNotNull(), F.col("bucket"))
        pv = F.last(v, ignorenulls=True).over(wp)
        pb = F.last(known_b, ignorenulls=True).over(wp)
        nv = F.first(v, ignorenulls=True).over(wn)
        nb = F.first(known_b, ignorenulls=True).over(wn)
        frac = (
            F.expr(f"(bucket - _pb) div {span}").cast("double")
            / F.expr(f"(_nb - _pb) div {span}").cast("double")
        )
        return (
            joined.withColumn("_pv", pv)
            .withColumn("_pb", pb)
            .withColumn("_nv", nv)
            .withColumn("_nb", nb)
            .withColumn(
                value_col,
                F.when(v.isNotNull(), v).when(
                    F.col("_pv").isNotNull() & F.col("_nv").isNotNull(),
                    F.col("_pv") + (F.col("_nv") - F.col("_pv")) * frac,
                ),
            )
            .drop("_pv", "_pb", "_nv", "_nb")
        )
    raise ValueError(f"unknown fill: {fill}")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    ts_col: str = "ts",
    right_ts_col: str | None = None,
    tolerance_ns: int | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` (direction='backward'; 'forward' = earliest
    right row with ``right.ts >= left.ts``; 'nearest' = whichever of
    the two is closer in time, ties -> backward, pandas merge_asof
    semantics), matched on equi-keys ``on``.
    The natural time-series completion of the reference's declared join
    surface (query/parser/joinparser.go:84-201 parses joins; the op body
    is empty, query/base/queryops.go:60-66).

    Implementation: union the two sides tagged by origin, one window
    partitioned by the equi-keys ordered by (ts, origin), LOCF the right
    side's payload onto left rows. ONE shuffle on the join keys — no
    range-explode, no broadcast of the right side — so it scales to both
    sides being 100 TB streams. Tolerance filters matches further away
    than ``tolerance_ns``. Ties (equal ts): right row sorts before left
    for 'backward' (<= semantics) and also matches for 'forward' (>=).
    """
    on = list(on)
    rts = right_ts_col or ts_col
    rpayload = [c for c in right.columns if c not in on and c != rts]

    # Both sides' ordering column goes through the ns conversion — a
    # cast between long and timestamp (epoch-SECONDS semantics) would
    # mis-scale the ordering when the two sides carry different ts
    # dtypes, so the window never orders on a casted ts.
    l2 = left.select("*", ts_ns(left, ts_col).alias("_ord_ns"), F.lit(1).alias("_side"))
    # The right side's (ts, payload...) travels as ONE struct so the
    # LOCF below picks the whole matched row atomically: per-column
    # F.last(ignorenulls) would stitch a NULL payload column from an
    # OLDER right row onto the newest match — real ASOF semantics
    # return the matched row's NULL, so the struct (non-null whenever
    # the row is a right row, even with all-NULL payload) is the unit
    # of carry-forward.
    rns = ts_ns(right, rts)
    r2 = right.select(
        *on,
        rns.alias("_ord_ns"),
        F.struct(rns.alias("_r_ts"), *[F.col(c).alias(f"_r_{c}") for c in rpayload]).alias(
            "_r_row"
        ),
        F.lit(0).alias("_side"),
    )
    u = l2.unionByName(r2, allowMissingColumns=True)

    if direction == "backward":
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ord_ns").asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = F.last(F.col("_r_row"), ignorenulls=True).over(w)
    elif direction == "forward":
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ord_ns").asc(), F.col("_side").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        carried = F.first(F.col("_r_row"), ignorenulls=True).over(w)
    elif direction == "nearest":
        # pandas merge_asof direction='nearest': the closer of the
        # latest-at-or-before and earliest-after right rows; ties ->
        # backward. BOTH carries share ONE sort order (right before
        # left at equal ts), so Spark plans a single Exchange+Sort and
        # evaluates both frames over it — still one shuffle. The
        # forward frame misses equal-ts right rows under this order,
        # but gap 0 always wins via the backward carry, so nearest
        # semantics are unaffected.
        wb = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ord_ns").asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ord_ns").asc(), F.col("_side").asc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        # materialize BOTH carries once (r14 window-buffer rule): the
        # when() tree below references back 3x / fwd 2x and every
        # payload getField re-embeds the chosen branch again — inline
        # that was 16 window buffers in the physical Window node where
        # 2 suffice (sweep: tools/window_buffer_sweep.py)
        u = u.select(
            "*",
            F.last(F.col("_r_row"), ignorenulls=True).over(wb)
            .alias("_back"),
            F.first(F.col("_r_row"), ignorenulls=True).over(wf)
            .alias("_fwd"),
        )
        back, fwd = F.col("_back"), F.col("_fwd")
        lns = F.col("_ord_ns")
        gap_b = lns - back.getField("_r_ts")
        gap_f = fwd.getField("_r_ts") - lns
        carried = (
            F.when(back.isNull(), fwd)
            .when(fwd.isNull(), back)
            .when(gap_f < gap_b, fwd)
            .otherwise(back)
        )
    else:
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    # the window runs over both sides, so left rows are kept only after
    # it; the final select names the outputs (renames and drops folded
    # into its aliases)
    out = u.select(
        *left.columns,
        F.col("_ord_ns"),
        F.col("_side"),
        carried.getField("_r_ts").alias("_r_ts"),
        *[carried.getField(f"_r_{c}").alias(f"_r_{c}") for c in rpayload],
    ).filter(F.col("_side") == 1)
    r_ts = F.col("_r_ts")
    payload = [F.col(f"_r_{c}") for c in rpayload]
    if tolerance_ns is not None:
        lns = F.col("_ord_ns")
        if direction == "backward":
            gap = lns - r_ts
        elif direction == "forward":
            gap = r_ts - lns
        else:  # nearest: the chosen row's absolute distance
            gap = F.abs(r_ts - lns)
        keep = gap <= F.lit(tolerance_ns)
        r_ts = F.when(keep, r_ts)
        payload = [F.when(keep, p) for p in payload]
    return out.select(
        *left.columns,
        r_ts.alias(f"{ts_col}{suffix}"),
        *[p.alias(f"{c}{suffix}" if c in left.columns else c) for c, p in zip(rpayload, payload)],
    )


def moving_agg(
    df: DataFrame,
    window_rows: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    how: str = "avg",
    out_col: str | None = None,
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Trailing moving aggregate over the last ``window_rows`` rows per
    series (current row inclusive), time-ordered — rolling mean/min/max/
    sum. One shuffle on the series key, then a bounded rowsBetween frame
    (O(window) state per partition; no unbounded accumulation).
    """
    w = (
        _series_window(series_cols, ts_col, order_extra)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    v = F.col(value_col)
    fns = {"avg": F.avg(v), "min": F.min(v), "max": F.max(v), "sum": F.sum(v),
           "count": F.count(v)}
    if how not in fns:
        raise ValueError(f"how must be one of {sorted(fns)}")
    return df.withColumn(out_col or f"moving_{how}", fns[how].over(w))


def seasonal_decompose(
    df: DataFrame,
    period: int,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Classical additive seasonal decomposition per series over
    ``bucket_seconds`` means: value = trend + seasonal + residual —
    the capacity-planning / anomaly-baseline decomposition (the
    moving-average method of classical STL's ancestor, fully
    deterministic):

    1. per-(series, bucket) mean (exact decimal-sum / count,
       quantized to 6dp so every later decimal cast is boundary-free
       — /count rationals otherwise land exactly on half-quantum
       boundaries where engines' cast rounding modes disagree);
    2. trend = the classical centered moving average: a plain
       ``period``-point MA for odd periods, the 2xMA (``period+1``
       points with half weights at both ends) for even periods — so a
       perfectly periodic season averages out of the trend exactly;
       NULL at the edges where the window is incomplete;
    3. seasonal = per (series, bucket_index mod period) mean of the
       detrended values, re-centered so seasonal components sum to ~0
       per series;
    4. residual = value - trend - seasonal.

    Determinism: every mean runs as an exact decimal sum (values
    quantized to 6dp first — the suite's standard absorption of
    frame-evaluation order) divided by an exact count, and the final
    subtractions are a pinned double tree — so the result hashes
    against a SQL oracle evaluating the identical windows. Shape: one
    bucket aggregate + one range-frame window + one small per-phase
    aggregate broadcast back; the only full-data shuffle is the
    bucket groupBy."""
    b = _bucket_means(df, bucket_seconds, series_cols, value_col, ts_col).select(
        "bucket", *series_cols, _q6(F.col("_m")).alias("value")
    )
    span = bucket_seconds * NS_PER_SEC
    # integer div — a double route would round above 2^53 (ns epochs)
    b = b.withColumn("_bi", F.expr(f"bucket div {span}"))
    vq = F.col("value").cast("decimal(18,6)")
    half = period // 2
    w = _series_window(series_cols, "_bi").rangeBetween(-half, half)
    n_frame = F.count(F.lit(1)).over(w)
    if period % 2 == 1:
        trend = F.when(
            n_frame == period, F.sum(vq).over(w).cast("double") / n_frame
        )
    else:
        # 2xMA: period+1 points, half weight at both frame ends
        wsum = (
            F.sum(vq).over(w).cast("double")
            - F.lit(0.5) * F.first("value").over(w)
            - F.lit(0.5) * F.last("value").over(w)
        )
        trend = F.when(n_frame == period + 1, wsum / F.lit(float(period)))
    b = b.withColumn("trend", trend).withColumn(
        "_phase", F.pmod(F.col("_bi"), F.lit(period))
    )
    # derived doubles (value - trend, s_raw) frequently land EXACTLY on
    # half-quantum boundaries (both terms are /count rationals), where
    # Spark's decimal cast (HALF_UP) and other engines' (half-even)
    # disagree — round() first (half away from zero in Spark and
    # DuckDB alike) so the subsequent cast is boundary-free
    det = _q6(F.col("value") - F.col("trend")).cast("decimal(18,6)")
    phase = b.groupBy(*series_cols, "_phase").agg(
        (F.sum(det).cast("double") / F.count(det)).alias("_s_raw")
    )
    # re-center: seasonal components sum to ~0 per series
    center = phase.groupBy(*series_cols).agg(
        (
            F.sum(_q6(F.col("_s_raw")).cast("decimal(18,6)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("_s_mean")
    )
    phase = phase.join(F.broadcast(center), list(series_cols)).select(
        *series_cols,
        "_phase",
        (F.col("_s_raw") - F.col("_s_mean")).alias("seasonal"),
    )
    out = b.join(F.broadcast(phase), [*series_cols, "_phase"])
    return out.select(
        *series_cols,
        "bucket",
        "value",
        "trend",
        "seasonal",
        (F.col("value") - F.col("trend") - F.col("seasonal")).alias(
            "residual"
        ),
    )


def sessionize(
    df: DataFrame,
    gap_seconds: int,
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    out_col: str = "session_id",
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Batch session labeling: per series, consecutive rows closer than
    ``gap_seconds`` share a session; a larger gap starts a new one.
    ``session_id`` = the INT64-ns timestamp of the session's first row
    (stable, content-derived — no sequence counter to coordinate).

    The classic two-window cumulative pattern: ``lag`` marks
    session-start rows, a running ``max`` of start timestamps over the
    time order labels every row — both windows share one
    partition+order, so the plan is a SINGLE shuffle on the series key.
    This is the row-labeling complement of the streaming
    ``session_window`` aggregate (streaming/windows.py): that one
    aggregates per session; this one tags rows for downstream joins."""
    ord_ns = ts_ns(df, ts_col)
    w = _series_window(series_cols, ord_ns, order_extra)
    gap_ns = gap_seconds * NS_PER_SEC
    is_start = (
        F.lag(ord_ns).over(w).isNull()
        | ((ord_ns - F.lag(ord_ns).over(w)) > F.lit(gap_ns))
    )
    start_ts = F.when(is_start, ord_ns)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out_col, F.max(start_ts).over(wrun))


def moving_time_agg(
    df: DataFrame,
    window_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    how: str = "avg",
    out_col: str | None = None,
) -> DataFrame:
    """Trailing TIME-RANGE moving aggregate per series: for each row,
    aggregate over the rows in ``[ts - window_seconds, ts]`` (current
    row inclusive) — the time-based companion to the row-count frame of
    :func:`moving_agg`, matching irregular sampling correctly (a
    row-count frame over-reaches on sparse series and under-reaches on
    dense ones).

    Implemented as ONE ``rangeBetween`` window frame on the INT64-ns
    ordering column — a single shuffle on the series key, state bounded
    by rows-per-window. ``avg``/``sum`` accumulate through
    DECIMAL(18,6) so frame sums are order-independent (a double frame
    sum depends on the engine's frame-evaluation order) and the result
    hashes against a SQL oracle; min/max/count are exact anyway.

    Requires INT64-ns ``ts`` (use ``functions.scalar.ts_ns`` first for
    timestamp columns)."""
    ord_ns = ts_ns(df, ts_col)
    w = _series_window(series_cols, ord_ns).rangeBetween(
        -(window_seconds * NS_PER_SEC), 0
    )
    v = F.col(value_col)
    vd = v.cast("decimal(18,6)")
    fns = {
        "avg": lambda: F.sum(vd).over(w).cast("double") / F.count(v).over(w),
        "sum": lambda: F.sum(vd).over(w).cast("double"),
        "min": lambda: F.min(v).over(w),
        "max": lambda: F.max(v).over(w),
        "count": lambda: F.count(v).over(w),
    }
    if how not in fns:
        raise ValueError(f"how must be one of {sorted(fns)}")
    return df.withColumn(out_col or f"moving_{how}", fns[how]())


def ewma_running(
    vals: list[float], alpha: float, state: float | None = None
) -> list[float]:
    """The running EWMA of ``vals`` (Python floats in time order):
    s_i = alpha*v_i + (1-alpha)*s_{i-1}, from the incoming ``state``
    or, when it is None, seeded s_0 = v_0. Each step rounds before it
    feeds the next, exactly as a left fold of the same doubles does in
    any engine (a numpy weighted cumsum would re-associate). The one
    per-row loop of :func:`ewma_rows` and
    ``streaming.stateful.streaming_ewma``."""
    out: list[float] = []
    if state is None:
        if not vals:
            return out
        state = vals[0]
        out.append(state)
        vals = vals[1:]
    b = 1.0 - alpha
    append = out.append
    for v in vals:
        state = alpha * v + b * state
        append(state)
    return out


def _ewma_step(alpha: float):
    a, b = F.lit(alpha), F.lit(1.0 - alpha)
    return lambda acc, v: a * v + b * acc


def _ewma_vals(value_col: str, ts_col: str, order_extra: Sequence[str]):
    """A group's values in (ts, order_extra...) order."""
    key = F.struct(
        F.col(ts_col), *[F.col(c) for c in order_extra], F.col(value_col).alias("_v")
    )
    return F.transform(F.sort_array(F.collect_list(key)), lambda s: s["_v"])


def _ewma_seeded(vals, alpha: float):
    """The EWMA fold of ``vals`` seeded s_0 = v_0."""
    return F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        _ewma_step(alpha),
    )


def _ewma_bucketed(
    df: DataFrame,
    alpha: float,
    value_col: str,
    series_cols: Sequence[str],
    ts_col: str,
    order_extra: Sequence[str],
    bucket_rows: int,
):
    """Shared front of the bounded-memory EWMA paths: rows get a
    per-series time-ordered bucket index ((row_number-1) div
    bucket_rows — a streaming window, no per-group materialization),
    then per-(series, bucket) affine summaries of the recursion.

    The EWMA step s -> alpha*v + (1-alpha)*s is affine in s, so a whole
    bucket composes to s -> d*s + p with d = (1-alpha)^n (sequential
    multiply fold) and p = the fold seeded from 0 — the classic
    parallel-scan (Blelloch) treatment of a linear recurrence. Bucket 0
    instead folds with the reference seeding s_0 = v_0, so its summary
    IS its outgoing state. Returns (bdf, summaries, bs): the bucketed
    rows, summaries = (series..., _bk, _d, _p), and bs = the aggregate
    of a series' summaries as one bucket-sorted (_bk, _d, _p) list.
    """
    wrn = _series_window(series_cols, ts_col, order_extra)
    bdf = df.withColumn(
        "_bk", ((F.row_number().over(wrn) - 1) / F.lit(bucket_rows)).cast("long")
    )
    vals = _ewma_vals(value_col, ts_col, order_extra)
    seeded = _ewma_seeded(vals, alpha)
    from_zero = F.aggregate(vals, F.lit(0.0), _ewma_step(alpha))
    decay = F.aggregate(vals, F.lit(1.0), lambda acc, _: acc * F.lit(1.0 - alpha))
    summaries = bdf.groupBy(*series_cols, "_bk").agg(
        F.when(F.col("_bk") == 0, seeded).otherwise(from_zero).alias("_p"),
        F.when(F.col("_bk") == 0, F.lit(0.0)).otherwise(decay).alias("_d"),
    )
    bs = F.sort_array(
        F.collect_list(F.struct(F.col("_bk"), F.col("_d"), F.col("_p")))
    )
    return bdf, summaries, bs


def ewma_final(
    df: DataFrame,
    alpha: float,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    order_extra: Sequence[str] = (),
    out_col: str = "ewma",
    bucket_rows: int | None = None,
) -> DataFrame:
    """Final exponentially-weighted moving average per series:
    s_0 = v_0; s_i = alpha*v_i + (1-alpha)*s_{i-1} over the
    time-ordered values. Returns one row per series.

    EWMA is an inherently sequential recursion. Default path: a left
    fold over the per-series ordered value array
    (sort_array(collect_list(struct(ts, ..., v))) -> aggregate) —
    deterministic order, bit-identical to any engine's sequential fold,
    but O(series length) memory per group.

    ``bucket_rows`` set: the bounded-memory parallel-scan path — rows
    bucket in time order, each bucket folds sequentially into an affine
    summary (d, p), and a per-series fold over the ~n/bucket_rows
    summaries composes them (bucket 0 carries the v_0 seeding). Peak
    per-group state drops from O(n) to O(max(bucket_rows,
    n/bucket_rows)). The boundary composition d*s + p re-associates the
    arithmetic, so results can differ from the sequential fold in the
    last ~2 ulps — use the default path when bit-exact cross-engine
    hashes matter and series are bounded (resample() first at 100 TB).
    """
    if bucket_rows is None:
        fold = _ewma_seeded(_ewma_vals(value_col, ts_col, order_extra), alpha)
        return df.groupBy(*series_cols).agg(fold.alias(out_col))
    _, summaries, bs = _ewma_bucketed(
        df, alpha, value_col, series_cols, ts_col, order_extra, bucket_rows
    )
    compose = F.aggregate(bs, F.lit(0.0), lambda acc, t: t["_d"] * acc + t["_p"])
    return summaries.groupBy(*series_cols).agg(compose.alias(out_col))


def ewma_rows(
    df: DataFrame,
    alpha: float,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    order_extra: Sequence[str] = (),
    out_col: str = "ewma",
    keep_cols: Sequence[str] | None = None,
    bucket_rows: int | None = None,
) -> DataFrame:
    """Per-row EWMA: every row gets its running smoothed value
    (s_0 = v_0; s_i = alpha*v_i + (1-alpha)*s_{i-1} in time order).

    The recursion is sequential per series, so it runs as an
    Arrow-batched ``applyInPandas`` over the series key — ONE shuffle,
    O(n) per group (vs O(n^2) for the pure-SQL window+fold form). The
    loop (:func:`ewma_running`) spells out exactly
    ``alpha*v + (1-alpha)*acc`` so results are bit-identical to a left
    fold of the same doubles in any engine.
    Per-group memory is O(series length) on the default path.

    ``bucket_rows`` set: the bounded-memory parallel-scan path. Rows
    bucket per series in time order; per-bucket affine summaries
    (see :func:`_ewma_bucketed`) give every bucket its exact-shape
    incoming state via an exclusive prefix fold over the
    ~n/bucket_rows summaries; the per-row loop then runs per
    (series, bucket) group, O(bucket_rows) Arrow memory per task, all
    buckets in parallel. Boundary composition re-associates the
    arithmetic (last-ulps divergence from the sequential fold) — keep
    the default path for bit-exact cross-engine hashes on bounded
    series.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    order_cols = [ts_col, *order_extra]
    if keep_cols is None:
        keep_cols = [*series_cols, *order_cols]
    need = list(dict.fromkeys([*series_cols, *order_cols, *keep_cols, value_col]))
    schema_src = df.select(*need)
    schema = StructType(
        [schema_src.schema[c] for c in keep_cols]
        + [StructField(out_col, DoubleType(), True)]
    )
    a = float(alpha)
    keep = list(keep_cols)

    def fn(pdf):
        # the bucketed path's groups carry their incoming state _sin
        # (NULL for bucket 0, which seeds with its first value)
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        sin = pdf["_sin"].iloc[0] if "_sin" in pdf else None
        res = pdf[keep].copy()
        res[out_col] = ewma_running(
            pdf[value_col].to_numpy(dtype="float64").tolist(),
            a,
            None if pd.isna(sin) else float(sin),
        )
        return res

    if bucket_rows is None:
        return df.select(*need).groupBy(*series_cols).applyInPandas(fn, schema)
    bdf, summaries, bs = _ewma_bucketed(
        df, alpha, value_col, series_cols, ts_col, order_extra, bucket_rows
    )
    # exclusive prefix over bucket summaries: incoming state of
    # bucket k = composition of buckets < k (null for bucket 0 —
    # the v_0 seeding happens inside the group loop)
    init = F.struct(
        F.lit(0.0).alias("s"),
        F.array().cast("array<struct<_bk:long,_sin:double>>").alias("arr"),
    )
    pre = F.aggregate(
        bs,
        init,
        lambda acc, t: F.struct(
            (t["_d"] * acc["s"] + t["_p"]).alias("s"),
            F.concat(
                acc["arr"],
                F.array(
                    F.struct(
                        t["_bk"].alias("_bk"),
                        F.when(t["_bk"] == 0, F.lit(None).cast("double"))
                        .otherwise(acc["s"])
                        .alias("_sin"),
                    )
                ),
            ).alias("arr"),
        ),
    )["arr"]
    incoming = (
        summaries.groupBy(*series_cols)
        .agg(pre.alias("_pre"))
        .select(*series_cols, F.explode("_pre").alias("_e"))
        .select(*series_cols, F.col("_e._bk").alias("_bk"),
                F.col("_e._sin").alias("_sin"))
    )
    need_b = list(dict.fromkeys([*need, "_bk"]))
    proj = bdf.select(*need_b).join(incoming, [*series_cols, "_bk"])
    return proj.groupBy(*series_cols, "_bk").applyInPandas(fn, schema)


def zscore_anomaly(
    df: DataFrame,
    window_rows: int = 20,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    order_extra: Sequence[str] = (),
    threshold: float = 3.0,
    out_col: str = "z",
) -> DataFrame:
    """Rolling z-score anomaly detection: each point scored against the
    mean/std of the ``window_rows`` rows BEFORE it (self excluded) per
    series — the classic monitoring-TSDB outlier primitive the
    reference's 'rich time-series functions' goal implies (reference
    README.md:8). Excluding the current row matters: with the point
    inside its own window, z is bounded by (n-1)/sqrt(n), so a window
    of 10 could never flag at threshold 3 no matter how extreme the
    spike.

    Determinism contract (suite rules): the frame's sum and
    sum-of-squares accumulate as DECIMAL (exact, order-independent),
    and mean/variance derive from them with one fixed double formula.
    Rows with an incomplete history or zero variance score NULL.

    Scale shape: one shuffle on the series key, O(window) state per
    row; all arithmetic in whole-stage codegen.
    """
    w = (
        _series_window(series_cols, ts_col, order_extra)
        .rowsBetween(-window_rows, -1)
    )
    v = F.col(value_col)
    # TWO-STAGE projection (the r14 ts_bollinger rule): deriving
    # z/is_anomaly inline re-embedded a copy of each frame aggregate
    # per use — 17 sliding buffers in the physical Window node where 3
    # suffice. Materialize the three frame totals once; the z tree
    # then reads plain columns — identical values, ~3x cheaper.
    inner = df.select(
        "*",
        F.count(value_col).over(w).alias("_zn"),
        F.sum(v.cast("decimal(18,6)")).over(w).cast("double").alias("_zs"),
        F.sum((v * v).cast("decimal(28,12)")).over(w).cast("double")
        .alias("_zss"),
    )
    n, s, ss = F.col("_zn"), F.col("_zs"), F.col("_zss")
    mean = s / n
    var = (ss - n * mean * mean) / (n - 1)
    z = F.when((n >= window_rows) & (var > 0), (v - mean) / F.sqrt(var))
    return (
        inner.withColumn(out_col, z)
        .withColumn(
            "is_anomaly", F.abs(F.col(out_col)) > F.lit(threshold)
        )
        .drop("_zn", "_zs", "_zss")
    )


def value_histogram(
    df: DataFrame,
    bin_width: float,
    lo: float = 0.0,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
) -> DataFrame:
    """Fixed-width value histogram per series: (series..., bin, bin_lo,
    n) with bin = floor((v - lo)/width) — the distribution primitive
    behind latency/size dashboards. One hash aggregate, map-side
    combined; bin arithmetic is a single IEEE divide + floor, so a SQL
    oracle reproduces it bit-exactly."""
    v = F.col(value_col)
    b = F.floor((v - F.lit(lo)) / F.lit(bin_width))
    return (
        df.withColumn("bin", b)
        .groupBy(*series_cols, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bin_lo", F.lit(lo) + F.col("bin") * F.lit(bin_width))
    )


def time_weighted_avg(
    df: DataFrame,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Time-weighted average per series per bucket — the irregular-
    sampling average (a value 'holds' until the next observation;
    TimescaleDB's time_weight analog). Each point carries its value for
    w = min(next_ts, bucket_end) - ts nanoseconds (the last point of a
    series holds to its bucket's end); TWA = sum(v*w) / sum(w).

    Requires INT64-ns ``ts`` (exact integer weights). Determinism: the
    weight sum is integer-exact; the v*w sum is a ts-ordered left fold
    (suite fold rules) so the double is bit-identical across engines.

    Scale: one window shuffle on the series key (the lead), then one
    hash aggregate; per-(series, bucket) lists are bounded by points
    per bucket.
    """
    span = bucket_seconds * NS_PER_SEC
    ts, v = F.col(ts_col), F.col(value_col)
    w_next = F.lead(ts_col).over(_series_window(series_cols, ts_col))
    bucket_end = (ts - (ts % F.lit(span))) + F.lit(span)
    x = df.select(
        *series_cols,
        ts.alias("_t"),
        (ts - (ts % F.lit(span))).cast("long").alias("bucket"),
        (F.least(F.coalesce(w_next, bucket_end), bucket_end) - ts)
        .cast("long")
        .alias("_w"),
        v.alias("_v"),
    )
    agg = x.groupBy(*series_cols, "bucket").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_t"), (F.col("_v") * F.col("_w").cast("double")).alias("_p")))
        ).alias("_a"),
        F.sum("_w").alias("_den"),
        F.count(F.lit(1)).alias("n"),
    )
    num = F.aggregate(F.col("_a"), F.lit(0.0), lambda acc, t: acc + t["_p"])
    return agg.select(
        *series_cols,
        "bucket",
        (num / F.col("_den").cast("double")).alias("twa"),
        "n",
    )


def series_correlation(
    df: DataFrame,
    series_a: str,
    series_b: str,
    bucket_seconds: int,
    value_col: str = "value",
    series_col: str = "series",
    ts_col: str = "ts",
) -> DataFrame:
    """Pearson correlation between two series, computed on their
    aligned per-bucket means — cross-series analytics ("do errors move
    with clicks?"), the natural companion of the rich-time-series goal
    (reference README.md:8). Returns one row (n, corr) where n is the
    number of aligned buckets.

    Determinism: per-bucket means use the exact decimal-sum/count
    pattern; the five moment sums (x, y, xy, x², y²) are bucket-ordered
    left folds over ONE sorted pair list, and corr derives from them
    with a single fixed double formula — bit-identical across engines.

    Scale: two grouped aggregates + one equi-join on bucket, then a
    single global fold over #buckets rows (bounded: one row per bucket,
    not per datapoint).
    """
    hourly = _bucket_means(
        df.filter(F.col(series_col).isin([series_a, series_b])),
        bucket_seconds, [series_col], value_col, ts_col,
    )
    a = hourly.filter(F.col(series_col) == series_a).select("bucket", F.col("_m").alias("_x"))
    b = hourly.filter(F.col(series_col) == series_b).select("bucket", F.col("_m").alias("_y"))
    return _pearson(a.join(b, "bucket"), [], "corr")


def irate(
    df: DataFrame,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    per_seconds: float = 1.0,
    counter: bool = True,
) -> DataFrame:
    """Instantaneous rate per series (Prometheus ``irate``): the rate
    between the LAST TWO samples only — the spike-sensitive companion
    to the window-average ``rate``. ``counter=True`` applies the
    standard reset rule (a drop between the two samples means the
    counter restarted: the increase is just the last value).

    Requires INT64-ns ``ts``. Returns one row per series with >= 2
    samples: (series..., ts_ns, irate).

    Shape: one window shuffle on the series key to pick the top-2
    samples (row_number, streaming frame — no per-series
    materialization), then a 2-row-per-series pivot aggregate.
    """
    w = Window.partitionBy(*series_cols).orderBy(F.col(ts_col).desc())
    top2 = df.select(*series_cols, ts_col, value_col).withColumn(
        "_rn", F.row_number().over(w)
    ).filter(F.col("_rn") <= 2)
    g = top2.groupBy(*series_cols).agg(
        F.max(F.when(F.col("_rn") == 1, F.col(ts_col))).alias("_t1"),
        F.max(F.when(F.col("_rn") == 1, F.col(value_col))).alias("_v1"),
        F.max(F.when(F.col("_rn") == 2, F.col(ts_col))).alias("_t0"),
        F.max(F.when(F.col("_rn") == 2, F.col(value_col))).alias("_v0"),
    ).filter(F.col("_t0").isNotNull())
    delta = F.col("_v1") - F.col("_v0")
    if counter:
        delta = F.when(F.col("_v1") < F.col("_v0"), F.col("_v1")).otherwise(delta)
    span_s = (F.col("_t1") - F.col("_t0")).cast("double") / F.lit(1e9)
    return g.select(
        *series_cols,
        F.col("_t1").alias("ts_ns"),
        (delta * F.lit(float(per_seconds)) / span_s).alias("irate"),
    )


def histogram_quantile(
    hist: DataFrame,
    q: float,
    bin_width: float,
    series_cols: Sequence[str] = ("series",),
    bin_lo_col: str = "bin_lo",
    count_col: str = "n",
) -> DataFrame:
    """Prometheus-style ``histogram_quantile``: the q-quantile estimate
    from fixed-width bucket counts (the output shape of
    :func:`value_histogram`), linearly interpolated within the bucket
    that crosses rank q*total. Composes as
    ``histogram_quantile(value_histogram(df, w), q, w)``.

    Determinism: rank arithmetic is integer (counts), the final
    interpolation is one fixed expression tree — a SQL oracle
    reproduces it bit-exactly.

    Shape: one running-count window per series over its (small) bucket
    set, then a min_by pick of the crossing bucket — no per-series
    value materialization ever; the raw data was already reduced by
    the histogram aggregate.
    """
    w = _series_window(series_cols, "_lo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(*series_cols)
    x = hist.select(
        *series_cols,
        F.col(bin_lo_col).alias("_lo"),
        F.col(count_col).alias("_n"),
    ).withColumn("_cum", F.sum("_n").over(w)).withColumn(
        "_total", F.sum("_n").over(wall)
    )
    rank = F.lit(float(q)) * F.col("_total").cast("double")
    crossing = x.filter(F.col("_cum").cast("double") >= rank)
    est = F.col("_lo") + (
        (rank - (F.col("_cum") - F.col("_n")).cast("double"))
        / F.col("_n").cast("double")
    ) * F.lit(float(bin_width))
    return (
        crossing.groupBy(*series_cols)
        .agg(F.min_by(est, F.col("_lo")).alias("quantile"))
    )


def autocorrelation(
    df: DataFrame,
    lag_buckets: int,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Lag-k autocorrelation of each series' bucket-mean sequence —
    the seasonality/persistence diagnostic (daily cycle shows as high
    autocorr at k = 24h/bucket). Returns (series..., n, autocorr) with
    n the number of aligned (t, t-lag) bucket pairs.

    Same determinism contract as :func:`series_correlation`: exact
    decimal bucket means, five bucket-ordered fold sums per series,
    one fixed double formula. Scale: one bucket aggregate, a
    self-equi-join on (series, shifted bucket), and a per-series fold
    over #buckets rows.
    """
    hourly = _bucket_means(df, bucket_seconds, series_cols, value_col, ts_col)
    shift = lag_buckets * bucket_seconds * NS_PER_SEC
    a = hourly.select(*series_cols, "bucket", F.col("_m").alias("_x"))
    b = hourly.select(
        *series_cols,
        (F.col("bucket") + F.lit(shift)).alias("bucket"),
        F.col("_m").alias("_y"),
    )
    return _pearson(a.join(b, [*series_cols, "bucket"]), series_cols, "autocorr")


def linear_trend(
    df: DataFrame,
    bucket_seconds: int,
    predict_seconds: float = 0.0,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Per-series least-squares trend over bucketed means — Prometheus
    ``deriv()`` (the slope) and ``predict_linear()`` (the extrapolated
    value ``predict_seconds`` past each series' last bucket) in one
    pass. Returns (series..., n, slope, intercept, predict).

    Determinism: per-bucket means use the exact decimal-sum/count
    pattern; the four moment sums fold left-to-right over ONE
    bucket-sorted list with x = seconds since the series' first bucket
    (small, well-conditioned doubles); slope/intercept/predict are
    fixed double formulas — bit-identical to a SQL oracle.

    Scale: one grouped aggregate to bucket means (dense keys, no
    skew), then one fold over #buckets rows per series — bounded by
    the time range, never by datapoint count.
    """
    agg = _bucket_list(
        _bucket_means(df, bucket_seconds, series_cols, value_col, ts_col),
        series_cols, "_m",
    )
    # bucket is INT64-ns for long ts, a window-start TIMESTAMP otherwise
    # (time_bucket contract) — x must be SECONDS either way, so the
    # slope/predict units don't silently scale by 1e9 with the dtype.
    # Order of operations (subtract raw doubles, THEN scale) is pinned:
    # the SQL oracle computes (b - b0)/1e9 and scaling first would
    # round differently.
    ns_scale = _is_long_ts(df, ts_col)

    def to_secs(diff):
        return diff / F.lit(1e9) if ns_scale else diff

    b0 = F.element_at(F.col("_a"), 1)["bucket"].cast("double")
    bN = F.element_at(F.col("_a"), -1)["bucket"].cast("double")

    def x_of(t):
        return to_secs(t["bucket"].cast("double") - b0)

    sx = _fold(lambda acc, t: acc + x_of(t))
    sy = _fold(lambda acc, t: acc + t["_m"])
    sxy = _fold(lambda acc, t: acc + x_of(t) * t["_m"])
    sxx = _fold(lambda acc, t: acc + x_of(t) * x_of(t))
    nd = F.col("n").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    intercept = (sy - slope * sx) / nd
    x_pred = to_secs(bN - b0) + F.lit(float(predict_seconds))
    return agg.select(
        *series_cols,
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        (intercept + slope * x_pred).alias("predict"),
    )


def quantile_over_time(
    df: DataFrame,
    q: float,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Exact linearly-interpolated q-quantile of each series per
    tumbling bucket (Prometheus ``quantile_over_time``). Unlike
    ``percentile_approx`` this is exact AND engine-reproducible: the
    bucket's values are sorted into an array and the standard
    ``pos = q*(n-1)`` interpolation is one fixed double expression, so
    a SQL oracle matches bit-for-bit.

    Scale: one shuffle to (bucket, series); per-group memory is one
    bucket's sample list — bounded by bucket width, not series length
    (pick bucket_seconds so samples-per-bucket fits a task; this is
    the same contract as any exact per-window quantile).
    """
    agg = _bucket_values(df, bucket_seconds, series_cols, value_col, ts_col)
    pos = F.lit(float(q)) * (F.col("n").cast("double") - F.lit(1.0))
    return agg.select(
        "bucket",
        *series_cols,
        "n",
        _interp(F.col("_v"), F.col("n"), pos).alias("quantile"),
    )


def counter_changes(
    df: DataFrame,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Prometheus ``changes()`` and ``resets()`` per series: the number
    of consecutive-sample value changes, and of decreases (counter
    restarts). Pure integer counts over one lag window — bit-exact by
    construction.

    Shape: one window shuffle on the series key (streaming lag frame,
    no per-series materialization), then a grouped count.
    """
    prev = F.lag(F.col(value_col)).over(_series_window(series_cols, ts_col))
    x = df.select(*series_cols, ts_col, value_col).withColumn(
        "_chg", (prev.isNotNull() & (F.col(value_col) != prev)).cast("long")
    ).withColumn(
        "_rst", (prev.isNotNull() & (F.col(value_col) < prev)).cast("long")
    )
    return x.groupBy(*series_cols).agg(
        F.sum("_chg").alias("changes"), F.sum("_rst").alias("resets")
    )


def holt_winters(
    df: DataFrame,
    alpha: float,
    beta: float,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Double exponential smoothing per series (Prometheus
    ``holt_winters`` / Holt's linear method) over bucketed means:

        s0 = y[0]; b = y[1] - y[0]
        for t >= 1:  s1 = a*y[t] + (1-a)*(s0 + b)
                     b  = B*(s1 - s0) + (1-B)*b;  s0 = s1

    Returns (series..., n, level, trend) — the final smoothed level
    and per-bucket trend. A single-sample series yields (y0, 0.0).

    Determinism: the recurrence is inherently sequential, so it runs
    as ONE left fold over the bucket-sorted mean list with an
    ``array<double>`` accumulator [i, s, b] — the identical expression
    tree a SQL oracle evaluates, bit-for-bit.

    Scale: the fold is over per-bucket means (bounded by the time
    range, not datapoint count); the raw scan reduces map-side first.
    For unbucketed per-row smoothing at unbounded series length, use
    ewma_rows-style bucketed scans instead.
    """
    a, b_ = float(alpha), float(beta)
    agg = _bucket_list(
        _bucket_means(df, bucket_seconds, series_cols, value_col, ts_col),
        series_cols, "_m",
    )

    def step(acc, t):
        y = t["_m"]
        i, s, tr = acc[0], acc[1], acc[2]
        first = i == F.lit(0.0)
        b0 = F.when(i == F.lit(1.0), y - s).otherwise(tr)
        s1 = F.lit(a) * y + F.lit(1.0 - a) * (s + b0)
        b1 = F.lit(b_) * (s1 - s) + F.lit(1.0 - b_) * b0
        return F.when(first, F.array(F.lit(1.0), y, F.lit(0.0))).otherwise(
            F.array(i + F.lit(1.0), s1, b1)
        )

    acc = F.aggregate(
        F.col("_a"),
        F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0)),
        step,
    )
    return agg.select(
        *series_cols,
        "n",
        acc[1].alias("level"),
        acc[2].alias("trend"),
    )


def ohlc(
    df: DataFrame,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """OHLC candles per (series, bucket): time-ordered open/close via
    min_by/max_by on the timestamp plus min/max/count/decimal-exact
    volume-style sum — the downsampling primitive of every financial /
    metering dashboard. ONE hash aggregate with map-side partials; no
    window, no second scan. Requires ts unique within a series for
    open/close to be well-defined (the series-family contract)."""
    bdf = time_bucket(df, bucket_seconds, ts_col=ts_col)
    v = F.col(value_col)
    return bdf.groupBy(*series_cols, "bucket").agg(
        F.min_by(value_col, ts_col).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max_by(value_col, ts_col).alias("close"),
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast("decimal(18,6)")).cast("double").alias("vsum"),
    )


def cusum_changepoints(
    df: DataFrame,
    bucket_seconds: int,
    warmup: int = 8,
    k_mult: float = 0.5,
    h_mult: float = 4.0,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """CUSUM mean-shift CHANGEPOINT detection per series (Page 1954,
    the tabular two-sided form every SPC/monitoring stack uses): over
    bucketed means, the one-sided cumulative sums

        S+ = max(0, S+ + (y - mu0) - k);  S- = max(0, S- - (y - mu0) - k)

    flag a changepoint when either exceeds ``h``, then BOTH reset
    (restart detection after the shift). ``mu0``/``sd`` calibrate on
    the first ``warmup`` buckets; ``k = k_mult*sd`` (slack — shifts
    below it accumulate nothing), ``h = h_mult*sd`` (decision
    interval). Ties between directions break toward the larger
    statistic, then upward.

    Returns one row per changepoint: ``(series..., bucket, direction
    [+1/-1], stat)`` with ``stat`` on the 1e-6 grid. Series shorter
    than ``warmup`` or with a FLAT warmup (sd == 0 — no scale to
    calibrate) emit nothing.

    Determinism: the recurrence is inherently sequential, so it runs
    as ONE left fold over the bucket-sorted mean list with a growing
    ``array<double>`` accumulator ``[S+, S-, next_i, cp_i, cp_dir,
    cp_stat, ...]`` — indices (exact small doubles) stand in for
    bucket timestamps inside the fold (an ns epoch exceeds 2^53) and
    map back through the sorted bucket list afterwards. The identical
    expression tree evaluates in a SQL oracle bit-for-bit, including
    the warmup variance clamped at 0 before sqrt (the underflow-NaN
    guard).

    Scale: the fold is over per-bucket means — bounded by the
    retention/bucket width, not datapoint count; raw rows reduce
    map-side in the bucket aggregate. One shuffle total."""
    if warmup < 2:
        raise ValueError("warmup needs at least 2 buckets")
    agg = _bucket_list(
        _bucket_means(df, bucket_seconds, series_cols, value_col, ts_col),
        series_cols, "_m",
    ).filter(F.col("n") > warmup)
    wvals = F.transform(
        F.slice("_a", 1, warmup), lambda s: s.getField("_m")
    )
    s1 = F.aggregate(wvals, F.lit(0.0), lambda a, x: a + x)
    mu0 = s1 / F.lit(float(warmup))
    s2 = F.aggregate(wvals, F.lit(0.0), lambda a, x: a + x * x)
    sd = F.sqrt(
        F.greatest(s2 / F.lit(float(warmup)) - mu0 * mu0, F.lit(0.0))
    )
    agg = (
        agg.withColumn("_mu0", mu0)
        .withColumn("_k", F.lit(float(k_mult)) * sd)
        .withColumn("_h", F.lit(float(h_mult)) * sd)
        .filter(F.col("_h") > 0)
    )

    def step(acc, t):
        y = t.getField("_m")
        dev = y - F.col("_mu0")
        sp1 = F.greatest(F.lit(0.0), acc[0] + dev - F.col("_k"))
        sm1 = F.greatest(F.lit(0.0), acc[1] - dev - F.col("_k"))
        i = acc[2]
        tail = F.slice(acc, 4, F.greatest(F.size(acc) - 3, F.lit(0)))
        up = (sp1 > F.col("_h")) & (sp1 >= sm1)
        dn = (sm1 > F.col("_h")) & ~up
        return (
            F.when(
                up,
                F.concat(
                    F.array(F.lit(0.0), F.lit(0.0), i + F.lit(1.0)),
                    tail,
                    F.array(i, F.lit(1.0), sp1),
                ),
            )
            .when(
                dn,
                F.concat(
                    F.array(F.lit(0.0), F.lit(0.0), i + F.lit(1.0)),
                    tail,
                    F.array(i, F.lit(-1.0), sm1),
                ),
            )
            .otherwise(
                F.concat(F.array(sp1, sm1, i + F.lit(1.0)), tail)
            )
        )

    # detection starts AFTER the warmup window; next_i starts at
    # warmup+1 (1-based position of the first monitored bucket)
    acc = F.aggregate(
        F.slice("_a", warmup + 1, F.greatest(F.size("_a") - warmup, F.lit(0))),
        F.array(F.lit(0.0), F.lit(0.0), F.lit(float(warmup + 1))),
        step,
    )
    n_cp = ((F.size("_acc") - 3) / 3).cast("int")
    out = agg.withColumn("_acc", acc).select(
        *series_cols,
        "_a",
        # guard: sequence(0, -1) would DESCEND; empty array drops the
        # no-changepoint series instead
        F.explode(
            F.when(
                F.size("_acc") > 3, F.sequence(F.lit(0), n_cp - 1)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("_c"),
        "_acc",
    )
    idx = F.element_at("_acc", (F.col("_c") * 3 + 4).cast("int"))
    return out.select(
        *series_cols,
        F.element_at("_a", idx.cast("int")).getField("bucket").alias("bucket"),
        F.element_at("_acc", (F.col("_c") * 3 + 5).cast("int"))
        .cast("int")
        .alias("direction"),
        _q6(
            F.element_at("_acc", (F.col("_c") * 3 + 6).cast("int"))
        ).alias("stat"),
    )


def mad_over_time(
    df: DataFrame,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Median absolute deviation of each series per tumbling bucket —
    the robust spread statistic (outlier-resistant alternative to
    stddev for alerting thresholds). Exact: median and MAD both come
    from sorted arrays with the standard ``pos = (n-1)/2`` linear
    interpolation, a fixed double expression tree a SQL oracle
    reproduces bit-for-bit.

    Shape: ONE grouped aggregate; the deviations array derives from
    the values array in-expression (transform + array_sort), so the
    data is never re-scanned. Per-task memory = one bucket's samples,
    the same contract as quantile_over_time.
    """
    agg = _bucket_values(df, bucket_seconds, series_cols, value_col, ts_col)
    n = F.col("n")
    mid = (n.cast("double") - F.lit(1.0)) * F.lit(0.5)
    med = _interp(F.col("_v"), n, mid)
    devs = F.array_sort(F.transform(F.col("_v"), lambda x: F.abs(x - med)))
    return agg.select(
        "bucket",
        *series_cols,
        "n",
        med.alias("median"),
        _interp(devs, n, mid).alias("mad"),
    )


def prom_rate(
    df: DataFrame,
    range_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
    counter: bool = True,
) -> DataFrame:
    """Prometheus ``rate(v[range])`` with FULL boundary-extrapolation
    semantics (promql extrapolatedRate): evaluated at each series' last
    sample, over the window ``[t_end - range, t_end]``:

    - increase = sum of reset-adjusted deltas over the window samples;
    - the sampled interval extrapolates toward each window edge by the
      distance to the edge, capped at 1.1x the average sample spacing
      (else half a spacing) — the part naive delta/time gets wrong;
    - counters additionally cap start-side extrapolation where the
      series would go below zero.

    Returns (series..., n, rate) for series with >= 2 window samples.

    Requires INT64-ns ``ts``. Determinism: one ts-ordered fold for the
    increase + a fixed double formula tree — bit-identical to a SQL
    oracle. Shape: per-series max (grouped agg) joined back, then one
    grouped sorted fold over the window's samples; memory bounded by
    samples-per-range like any range-vector evaluation.
    """
    rng_ns = range_seconds * NS_PER_SEC
    end = df.groupBy(*series_cols).agg(F.max(ts_col).alias("_t_end"))
    x = df.join(end, list(series_cols)).filter(
        F.col(ts_col) >= F.col("_t_end") - F.lit(rng_ns)
    )
    agg = x.groupBy(*series_cols).agg(
        F.array_sort(F.collect_list(F.struct(ts_col, value_col))).alias("_a"),
        F.count(F.lit(1)).alias("n"),
        F.max("_t_end").alias("_t_end"),
    ).filter(F.col("n") >= 2)

    first = F.element_at(F.col("_a"), 1)
    last = F.element_at(F.col("_a"), -1)
    v = lambda t: t[value_col].cast("double")  # noqa: E731

    if counter:
        # reset-adjusted increase: fold carrying [prev, acc]
        def step(acc, t):
            prev, s = acc[0], acc[1]
            d = F.when(v(t) < prev, v(t)).otherwise(v(t) - prev)
            return F.array(v(t), s + d)

        inc = F.aggregate(
            F.slice(F.col("_a"), 2, F.greatest(F.col("n") - 1, F.lit(0))),
            F.array(v(first), F.lit(0.0)),
            step,
        )[1]
    else:
        inc = v(last) - v(first)

    sec = lambda c: c.cast("double") / F.lit(1e9)  # noqa: E731
    t_first, t_last = first[ts_col], last[ts_col]
    range_start = F.col("_t_end") - F.lit(rng_ns)
    d_start = sec(t_first - range_start)
    d_end = sec(F.col("_t_end") - t_last)
    si = sec(t_last - t_first)
    avg = si / (F.col("n").cast("double") - F.lit(1.0))
    thr = avg * F.lit(1.1)
    # counters cannot extrapolate below zero at the window start:
    # promql caps durationToStart by durationToZero (guarded on
    # first >= 0) BEFORE the 1.1x-threshold comparison — applying the
    # cap after the branch diverges whenever d_zero lands between
    # avg/2 and the threshold while d_start exceeds it.
    d_zero = F.when(
        (F.lit(bool(counter))) & (inc > 0.0) & (v(first) >= 0.0),
        si * (v(first) / inc),
    ).otherwise(F.lit(float("inf")))
    d_start_capped = F.least(d_start, d_zero)
    start_ext = F.when(d_start_capped < thr, d_start_capped).otherwise(
        avg / F.lit(2.0)
    )
    end_ext = F.when(d_end < thr, d_end).otherwise(avg / F.lit(2.0))
    extr = si + start_ext + end_ext
    rate = inc * (extr / si) / F.lit(float(range_seconds))
    return agg.select(*series_cols, "n", rate.alias("rate"))


def rollup_cascade(
    df: DataFrame,
    levels: Sequence[int],
    keys: Sequence[str],
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Multi-resolution rollup cascade — the hypertable / continuous-
    aggregate hierarchy (1h -> 6h -> 1d ...): the FINEST level
    aggregates raw rows once, and every coarser level re-aggregates the
    finest level's decomposable partials (sum of counts, sum of sums,
    min of mins, max of maxs). Raw data is scanned exactly once no
    matter how many resolutions are materialized — at 100 TB the
    coarser levels cost O(finest-level cardinality), not another
    corpus pass, which is the entire reason TSDBs ship rollup
    hierarchies. Averages are derived at read time as total/n so every
    carried statistic stays decomposable.

    ``levels`` are strictly-ascending bucket widths in seconds; each
    coarser level must be a multiple of the finest so fine buckets nest
    exactly. Output: ``(level_s, bucket, *keys, n, total, vmin, vmax)``
    with ``total`` an exact DECIMAL sum (cast at the edge), one row per
    (level, bucket, keys). The certified suite entry hashes every level
    against an oracle that computes each resolution DIRECTLY from raw
    rows — equality is precisely the partial-aggregate composability
    claim."""
    from functools import reduce

    levels = [int(x) for x in levels]
    if not levels or levels[0] <= 0:
        raise ValueError("levels must be positive bucket widths in seconds")
    if levels != sorted(levels) or len(set(levels)) != len(levels):
        raise ValueError("levels must be strictly ascending")
    for lv in levels[1:]:
        if lv % levels[0]:
            raise ValueError(
                f"level {lv}s is not a multiple of the finest {levels[0]}s"
            )
    partials = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("total"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    ]
    fine = bucket_agg(df, levels[0], list(keys), partials, ts_col=ts_col)
    fine = fine.localCheckpoint(eager=False)  # one raw scan feeds all levels
    cols = ["bucket", *keys, "n", "total", "vmin", "vmax"]
    outs = [fine.select(F.lit(levels[0]).alias("level_s"), *cols)]
    for lv in levels[1:]:
        c = time_bucket(fine, lv, ts_col="bucket", out_col="cb")
        g = c.groupBy("cb", *keys).agg(
            F.sum("n").alias("n"),
            F.sum("total").alias("total"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
        outs.append(
            g.select(
                F.lit(lv).alias("level_s"), F.col("cb").alias("bucket"),
                *keys, "n", "total", "vmin", "vmax",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def pattern_topk(
    df: DataFrame,
    pattern: Sequence[float],
    bucket_seconds: int,
    k: int,
    series_cols: Sequence[str],
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-series SIMILARITY SEARCH: the top-k windows (across every
    series) most similar to a query pattern, under z-normalized
    Euclidean distance — the "find more shaped like this" primitive of
    the distributed-data-series-search literature (Odyssey VLDB'23 /
    EDBT'19 streaming-similarity line; matrix-profile methods serve
    the all-pairs/long-series regime this deliberately does not).

    Shape: raw rows collapse to per-(series, bucket) exact decimal
    means (one shuffle, partial-agg); each series' bucket vector is
    assembled ONCE (sort_array(collect_list(struct))) — bounded by
    retention/bucket width, the short-pattern regime — then every
    window start explodes BESIDE the kept vector (one scan, one agg —
    no self-join), F.slice cuts the m-length window, and
    z-normalization + the distance fold run as index-ordered HOF
    expressions (identical IEEE trees in DuckDB, so the top-k cut is
    engine-exact). Flat windows (zero variance) carry no shape and are
    excluded, as is a flat pattern (rejected). Global top-k is a
    TakeOrdered on the quantized distance with (series, start)
    tie-breaks — no global sort materialization.

    Returns ``(*series_cols, start_bucket, dist)`` with ``dist`` on
    the 1e-6 grid, exactly ``k`` rows (fewer if the corpus has fewer
    candidate windows)."""
    m = len(pattern)
    if m < 2:
        raise ValueError("pattern needs at least 2 points")
    pat_mean = sum(pattern) / m
    pat_var = sum(x * x for x in pattern) / m - pat_mean * pat_mean
    if not pat_var > 0:
        raise ValueError("pattern is flat (zero variance) — no shape to match")
    pat_sd = pat_var ** 0.5
    zp = [(x - pat_mean) / pat_sd for x in pattern]
    series_cols = list(series_cols)
    arr = _bucket_list(
        _bucket_means(df, bucket_seconds, series_cols, value_col, ts_col),
        series_cols, "_m",
    )
    n_starts = F.size("_a") - F.lit(m - 1)
    win = (
        arr.filter(n_starts > 0)
        .select(
            *series_cols,
            "_a",
            F.explode(F.sequence(F.lit(1), n_starts)).alias("start_i"),
        )
        .select(
            *series_cols,
            F.element_at("_a", F.col("start_i")).getField("bucket").alias(
                "start_bucket"
            ),
            F.transform(
                F.slice("_a", F.col("start_i"), m), lambda s: s.getField("_m")
            ).alias("w"),
        )
    )
    s1 = F.aggregate("w", F.lit(0.0), lambda a, x: a + x)
    s2 = F.aggregate("w", F.lit(0.0), lambda a, x: a + x * x)
    mean = (s1 / F.lit(float(m))).alias("mu")
    # clamp the fold variance at 0 before sqrt: for numerically-flat
    # windows s2/m - mu*mu underflows to a tiny NEGATIVE (e.g. c=0.23,
    # m=5 gives -1.4e-17), sqrt(neg) = NaN, and Spark evaluates
    # NaN > 0 as TRUE — the sd > 0 filter below would admit a shapeless
    # window whose quantized distance floors to 0.0 and ranks FIRST.
    # Clamped, flat windows get sd == 0.0 exactly and are excluded.
    win = win.withColumn("mu", mean).withColumn(
        "sd",
        F.sqrt(
            F.greatest(
                s2 / F.lit(float(m)) - F.col("mu") * F.col("mu"), F.lit(0.0)
            )
        ),
    )
    zw = F.transform("w", lambda x: (x - F.col("mu")) / F.col("sd"))
    zpat = F.array(*[F.lit(float(x)) for x in zp])
    dist = F.aggregate(
        F.zip_with(zw, zpat, lambda a, p: (a - p) * (a - p)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    out = (
        win.filter(F.col("sd") > 0)
        .withColumn("dist", _q6(dist))
        .select(*series_cols, "start_bucket", "dist")
        .orderBy(F.col("dist").asc(), *series_cols, F.col("start_bucket").asc())
        .limit(k)
    )
    return out


def m4_downsample(
    df: DataFrame,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB 2014): per
    (series, pixel-bucket) the four extremum points — first/last by
    time and min/max by value, each WITH its timestamp — the smallest
    point set whose line rendering is pixel-identical to the raw
    series. One hash aggregate with map-side partials (same shape as
    ohlc()); first/last ride min/max_by on the unique-per-series ts,
    min/max carry their timestamps via lexicographic struct min/max
    ((value, ts) — so a value tie deterministically keeps the earliest
    ts for the min and the latest for the max)."""
    bdf = time_bucket(df, bucket_seconds, ts_col=ts_col)
    v, ts = F.col(value_col), F.col(ts_col)
    return (
        bdf.groupBy(*series_cols, "bucket")
        .agg(
            F.min(ts).alias("t_first"),
            F.min_by(value_col, ts_col).alias("v_first"),
            F.max(ts).alias("t_last"),
            F.max_by(value_col, ts_col).alias("v_last"),
            F.min(F.struct(v.alias("v"), ts.alias("t"))).alias("_mn"),
            F.max(F.struct(v.alias("v"), ts.alias("t"))).alias("_mx"),
        )
        .select(
            *series_cols,
            "bucket",
            "t_first",
            "v_first",
            "t_last",
            "v_last",
            F.col("_mn.v").alias("v_min"),
            F.col("_mn.t").alias("t_min"),
            F.col("_mx.v").alias("v_max"),
            F.col("_mx.t").alias("t_max"),
        )
    )


def interp_align(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Interpolated as-of alignment: for each left row, the right
    series' value LINEARLY INTERPOLATED at the left timestamp between
    the bracketing right samples (TimescaleDB ``interpolate`` /
    kdb+ aj-with-interpolation semantics — the alignment step before
    any cross-series arithmetic on unaligned clocks). An exact-ts
    match returns that sample; a left ts before the first or after the
    last right sample yields NULL (no extrapolation).

    Implementation: like asof_join — union both sides tagged by
    origin, ONE shuffle on the equi-keys, then two frames over the
    same (ts, tag) sort: LOCF for the previous right sample, first
    following for the next. The interpolation weight is a pure IEEE
    divide of integer-ns deltas, so results are bit-reproducible
    across engines. Scales to both sides huge: no broadcast, no
    range explode; per-key windows partition the shuffle."""
    on = list(on)
    lpayload = [c for c in left.columns if c not in on and c != ts_col]
    l = left.select(
        *on,
        *lpayload,
        F.col(ts_col).alias("_t"),
        F.lit(None).cast("double").alias("_rv"),
        F.lit(1).alias("_tag"),
    )
    r = right.select(
        *on,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lpayload],
        F.col(ts_col).alias("_t"),
        F.col(value_col).cast("double").alias("_rv"),
        F.lit(0).alias("_tag"),
    )
    u = l.unionByName(r)
    # right rows sort before left at equal ts, so an exact-ts sample is
    # the "previous" point and the weight degenerates to 0 -> exact value.
    # _rv is the deterministic tertiary key: without it, duplicate
    # right-side timestamps within one key make last()/first() pick an
    # arbitrary duplicate and the interpolated value is nondeterministic
    # (ADVICE r8); with it, prev picks the max value among ties and next
    # the min — pinned semantics mirrored in the SQL oracle.
    w_prev = (
        Window.partitionBy(*on)
        .orderBy("_t", "_tag", "_rv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*on)
        .orderBy("_t", "_tag", "_rv")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    rv = F.when(F.col("_tag") == 0, F.col("_rv"))
    rt = F.when(F.col("_tag") == 0, F.col("_t"))
    marked = u.select(
        *on,
        *lpayload,
        "_t",
        "_tag",
        F.last(rv, ignorenulls=True).over(w_prev).alias("_pv"),
        F.last(rt, ignorenulls=True).over(w_prev).alias("_pt"),
        F.first(rv, ignorenulls=True).over(w_next).alias("_nv"),
        F.first(rt, ignorenulls=True).over(w_next).alias("_nt"),
    )
    interp = (
        F.when(F.col("_pt").isNull(), F.lit(None).cast("double"))
        .when(F.col("_t") == F.col("_pt"), F.col("_pv"))
        .when(F.col("_nt").isNull(), F.lit(None).cast("double"))
        .otherwise(
            F.col("_pv")
            + (F.col("_nv") - F.col("_pv"))
            * (
                (F.col("_t") - F.col("_pt")).cast("double")
                / (F.col("_nt") - F.col("_pt")).cast("double")
            )
        )
    )
    return (
        marked.filter(F.col("_tag") == 1)
        .select(*on, *lpayload, F.col("_t").alias(ts_col), interp.alias("interp"))
    )


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    window_ns: int,
    user_col: str = "user_id",
    type_col: str = "series",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel analysis (the ClickHouse ``windowFunnel`` /
    Amplitude funnel primitive): per user, the greedy-from-earliest
    conversion chain through ``steps`` — t1 = first step-1 event;
    t_{i+1} = first step-(i+1) event STRICTLY after t_i and within
    ``window_ns`` of t1 — and the level reached. Returns
    (user, level, t1..tN as nullable ns longs).

    The greedy-earliest rule makes the result a pure function of the
    event set (no per-row state machine), so it is certifiable against
    a SQL oracle AND decomposes into per-step grouped aggregates: each
    step is one groupBy(user).min(ts) on a filtered scan plus an
    equi-join back — every shuffle keyed on the user, so AQE
    co-partitions the chain; nothing is quadratic in events-per-user."""
    t = F.col(ts_col)
    cur = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(t).alias("t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            df.filter(F.col(type_col) == step)
            .select(user_col, t.alias("_ts"))
            .join(cur, user_col)
            .filter(
                (F.col("_ts") > F.col(f"t{i-1}"))
                & (F.col("_ts") <= F.col("t1") + F.lit(window_ns))
            )
            .groupBy(user_col, *[f"t{j}" for j in range(1, i)])
            .agg(F.min("_ts").alias(f"t{i}"))
        )
        cur = cur.join(
            nxt.select(user_col, f"t{i}"), user_col, "left"
        )
    level = None
    for i in range(len(steps), 0, -1):
        c = F.col(f"t{i}").isNotNull()
        level = (
            F.when(c, F.lit(i)) if level is None else level.when(c, F.lit(i))
        )
    return cur.select(
        user_col,
        level.otherwise(F.lit(0)).cast("long").alias("level"),
        *[f"t{i}" for i in range(1, len(steps) + 1)],
    )


def retention_cohorts(
    df: DataFrame,
    cohort_type: str,
    active_type: str,
    period_ns: int,
    user_col: str = "user_id",
    type_col: str = "series",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention (the product-analytics staple): users cohorted
    by the period of their FIRST ``cohort_type`` event; for each
    (cohort period, offset) cell, how many cohort users had an
    ``active_type`` event in that later period. Returns
    (cohort, offset, n_users) with periods as ns-epoch bucket starts.

    Shape: first-touch is one grouped min; activity is a DISTINCT over
    (user, period) — both map-side combined; the join is user-keyed.
    The cells are tiny (periods x offsets), so the final aggregate is
    a near-free shuffle."""
    t = F.col(ts_col)
    p = F.lit(period_ns)
    first = (
        df.filter(F.col(type_col) == cohort_type)
        .groupBy(user_col)
        .agg(F.min(t - (t % p)).alias("cohort"))
    )
    active = (
        df.filter(F.col(type_col) == active_type)
        .select(user_col, (t - (t % p)).alias("period"))
        .distinct()
    )
    return (
        active.join(first, user_col)
        .filter(F.col("period") >= F.col("cohort"))
        .groupBy(
            "cohort",
            # period - cohort is an exact multiple of period_ns, so the
            # offset uses exact integer division (`div` on longs):
            # routing it through `/` (double) then .cast("long")
            # truncates while DuckDB's CAST(double AS BIGINT) rounds —
            # a latent cross-engine off-by-one once the span's ns
            # magnitude eats the 2^53 double mantissa. Oracles mirror
            # with `//`.
            F.expr(f"(period - cohort) div {int(period_ns)}").alias("offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def theilsen_trend(
    df: DataFrame,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Theil-Sen robust trend per (series, bucket): the MEDIAN of all
    pairwise slopes (v_j - v_i)/(t_j - t_i) — the classic
    outlier-resistant alternative to least squares (up to ~29%
    contamination tolerated vs 0 for OLS; Theil 1950 / Sen 1968).
    Returns (series, bucket, n, slope) with slope in value-units per
    second; buckets with fewer than 2 points are dropped. Points with
    a NULL timestamp or NULL value are dropped up front (a pair
    containing one can never contribute a slope — the engine-expression
    form omitted those pairs via isNotNull/try_divide, and the Arrow
    UDF must never see them: NaN would poison the slope median and a
    NULL ns timestamp has no exact int64 form); ``n`` counts the
    non-null points the estimate actually used.

    The estimator is quadratic in points-per-bucket BY DEFINITION, so
    the bucket is the scale contract: points per (series, bucket) are
    bounded by sampling rate x bucket span, never by corpus size —
    at 100 TB the pair count per task is the SAME as at bench SF, and
    tasks fan out across (series, bucket). Implementation: one hash
    aggregate to a sorted per-bucket array (bounded), pairwise slopes
    as nested index transforms (pure engine expressions, no UDF),
    lower median by sorted-array indexing. Slopes are exact IEEE
    divisions of exact ns deltas; the lower median picks an ELEMENT
    (no averaging), so both engines agree bitwise."""
    t, v = F.col(ts_col), F.col(value_col)
    b = time_bucket(df, bucket_seconds, ts_col=ts_col)
    # NULL-omit (r14 advisor): drop null-t/null-v points BEFORE the
    # per-bucket collect — exactly the pairs the old expression path
    # omitted, enforced where it costs one codegen'd filter instead of
    # per-pair masking inside the numpy kernel
    b = b.filter(t.isNotNull() & v.isNotNull())
    per = b.groupBy(*series_cols, "bucket").agg(
        F.sort_array(
            F.collect_list(F.struct(t.alias("t"), v.alias("v")))
        ).alias("pts"),
        F.count(F.lit(1)).alias("n"),
    ).filter(F.col("n") >= 2)
    arr = F.col("pts")
    n = F.col("n")

    def _pt(i, field):
        return F.element_at(arr, (i + 1).cast("int")).getField(field)

    def _slope(i, j):
        # pairs with EQUAL timestamps are omitted (standard Theil-Sen:
        # a vertical pair has no defined slope) — at production scale
        # multiple devices per series WILL collide on a timestamp, and
        # the unguarded division is an ANSI DIVIDE_BY_ZERO (caught by
        # the r9 sf1 probe, whose 10-copy fixture duplicates every ts).
        # try_divide yields NULL on the zero delta — same omit
        # semantics as a when() guard at ~2/3 the interpreted per-pair
        # cost (the guard re-reads both struct elements per branch).
        return F.try_divide(
            _pt(j, "v") - _pt(i, "v"),
            (_pt(j, "t") - _pt(i, "t")).cast("double") / F.lit(1.0e9),
        )

    # Pairwise slopes + lower median in ONE Arrow-batched pandas UDF
    # (optimization guide §4.2: hand whole batches to numpy instead of
    # interpreted per-element HOF lambdas). The prior shape evaluated
    # the O(n^2) pair pipeline as nested interpreted transform lambdas
    # — ~2.9M closure evaluations per sf0.1 run, each re-reading two
    # struct elements — and measured ~5.3 s in the r14 open record.
    # The numpy path evaluates the SAME IEEE expression tree per pair:
    # v_j - v_i (float64 subtract), exact int64 ns delta cast to
    # float64 then divided by 1.0e9, one float64 division — followed
    # by an ascending sort and the (m+1)//2 lower-median ELEMENT pick,
    # so every emitted double is bit-identical to the engine-expression
    # form it replaces (and to the DuckDB oracle; `_slope` above
    # documents the omit-equal-ts contract the dt!=0 mask reproduces —
    # try_divide NULL-omit). The m>=1 guard stays the cheap pre-filter
    # it was: at least one distinct-ts pair exists iff first.t !=
    # last.t in the sorted array, so the UDF never sees an all-vertical
    # bucket and always returns a defined element.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _median_slope(ts_s: pd.Series, vs_s: pd.Series) -> pd.Series:
        import numpy as np

        out = np.empty(len(ts_s), dtype=np.float64)
        for k in range(len(ts_s)):
            t = np.asarray(ts_s.iloc[k], dtype=np.int64)
            v = np.asarray(vs_s.iloc[k], dtype=np.float64)
            iu, ju = np.triu_indices(t.size, k=1)
            dt = t[ju] - t[iu]
            mk = dt != 0
            s = (v[ju[mk]] - v[iu[mk]]) / (
                dt[mk].astype(np.float64) / 1.0e9
            )
            s.sort()
            out[k] = s[(s.size + 1) // 2 - 1]
        return pd.Series(out)

    first_t = F.element_at(arr, 1).getField("t")
    last_t = F.element_at(arr, F.col("n").cast("int")).getField("t")
    staged = per.filter(first_t != last_t).select(
        *series_cols,
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.transform(arr, lambda p: p.getField("t")).alias("_ts"),
        F.transform(arr, lambda p: p.getField("v")).alias("_vs"),
    )
    return staged.select(
        *series_cols,
        "bucket",
        "n",
        _median_slope(F.col("_ts"), F.col("_vs")).alias("slope"),
    )


def bollinger_bands(
    df: DataFrame,
    window_seconds: int,
    n_sigma: float = 2.0,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Bollinger bands over a trailing TIME-RANGE window: per row, the
    window mean, the population standard deviation, the upper/lower
    bands mean ± n_sigma·sd, and a breach flag — the volatility
    envelope behind every trading/monitoring chart (Bollinger 1992).

    Same one-shuffle rangeBetween shape as moving_time_agg: sums and
    sum-of-squares accumulate through DECIMAL on the 1e-6 quantized
    grid, so frame totals are order-independent and the derived
    moments are identical IEEE trees on both engines; the variance
    clamps at 0 before sqrt (the r7 NaN-guard rule — a constant window
    underflows to a tiny negative, and NaN comparisons silently pass
    breach checks)."""
    ord_ns = ts_ns(df, ts_col)
    w = _series_window(series_cols, ord_ns).rangeBetween(
        -(window_seconds * NS_PER_SEC), 0
    )
    # integer 1e-6 grid (not _q6, which divides back to a double)
    q = _grid6(F.col(value_col))
    # TWO-STAGE select (r14 decomposition): building mid/sd/upper/
    # lower/breach directly over the frame aggregates re-embeds a COPY
    # of each window aggregate in every derived column — the physical
    # WindowExec evaluated 13 sliding decimal buffers instead of 3 and
    # the entry cost 5.0 s where the bare window costs 1.1 s at sf0.1.
    # Materializing the three frame totals once in an inner projection
    # pins the buffer count at 3 (plan-asserted in
    # tests/test_plan_shapes.py); the band tree then reads plain
    # columns — identical values, ~3x cheaper.
    inner = df.select(
        *series_cols,
        ord_ns.alias("ts_ns"),
        F.col(value_col),
        F.sum(q.cast("decimal(38,0)")).over(w).cast("double").alias("_s1"),
        F.sum((q.cast("decimal(19,0)") * q)).over(w).cast("double")
        .alias("_s2"),
        F.count(F.col(value_col)).over(w).cast("double").alias("_n"),
    )
    mean, sd, upper, lower = _bands_from_sums(
        F.col("_s1"), F.col("_s2"), F.col("_n"), n_sigma
    )
    return inner.select(
        *series_cols,
        "ts_ns",
        F.col(value_col),
        mean.alias("mid"),
        sd.alias("sd"),
        upper.alias("upper"),
        lower.alias("lower"),
        (
            (F.col(value_col) > upper) | (F.col(value_col) < lower)
        ).alias("breach"),
    )


def _bands_from_sums(s1, s2, n, n_sigma: float):
    """mean / sd / upper / lower from DOUBLE frame totals — ONE shared
    IEEE expression tree so the frame-scan and prefix-difference
    Bollinger paths (and the oracle SQL mirroring this exact shape)
    are bit-identical given identical integer sums."""
    mean = s1 / (n * F.lit(1.0e6))
    var = F.greatest(
        s2 / (n * F.lit(1.0e12)) - mean * mean, F.lit(0.0)
    )
    sd = F.sqrt(var)
    return mean, sd, mean + F.lit(n_sigma) * sd, mean - F.lit(n_sigma) * sd


def bollinger_bands_prefix(
    df: DataFrame,
    window_seconds: int,
    n_sigma: float = 2.0,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """``bollinger_bands`` with the SAME output, computed by PREFIX
    DIFFERENCES instead of a sliding frame — the scale path for WIDE
    trailing windows. Spark evaluates bounded sliding window frames by
    rescanning the frame per row (O(rows x frame_rows), no aggregate
    inversion): fine while frames stay tens of rows (the 1h
    ts_bollinger contract), but a 24h window over minutely samples is
    ~1.4k frame rows and the r8 first cut burned 97 s at sf0.1. Here
    every aggregate is a GROWING frame (incremental, O(n)):

    1. collapse to the per-(series, ts) grid with integer/decimal
       partial sums (one hash aggregate);
    2. running cumulative sums over the grid (growing frame);
    3. each grid point's frame-START lookup — the cumulative sums at
       the greatest grid ts < t - W — via the union-asof pattern (grid
       rows + shifted probe rows, one ``last(ignorenulls)`` pass), no
       join;
    4. frame totals = cumulative differences, EXACT because the sums
       ride the integer 1e-6 grid through DECIMAL — float prefix
       differences would cancel catastrophically, which is why engines
       don't invert float aggregates and why the quantized grid makes
       inversion legal here;
    5. join band stats back to rows on (series, ts) — same hash keys
       as step 1, AEQ-local.

    Work is O(n log n) per series regardless of window width, so the
    cost contract survives wide windows and 100x scale-up. Identical
    band derivation tree (``_bands_from_sums``), so results hash-match
    ``bollinger_bands`` and the shared oracle SQL exactly."""
    ord_ns = ts_ns(df, ts_col)
    w_ns = window_seconds * NS_PER_SEC
    base = df.select(
        *series_cols, ord_ns.alias("_tns"), F.col(value_col)
    )
    qb = _grid6(F.col(value_col))
    grid = base.groupBy(*series_cols, "_tns").agg(
        F.sum(qb.cast("decimal(38,0)")).alias("_gs1"),
        F.sum(qb.cast("decimal(19,0)") * qb).alias("_gs2"),
        F.count(F.col(value_col)).alias("_gn"),
    )
    wg = _series_window(series_cols, "_tns").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cums = grid.select(
        *series_cols,
        "_tns",
        F.sum("_gs1").over(wg).alias("_cs1"),
        F.sum("_gs2").over(wg).alias("_cs2"),
        F.sum("_gn").over(wg).alias("_cn"),
    )
    # union-asof: grid anchor rows (kind 0, carry the lookup value)
    # sort before probe rows (kind 1, carry the grid point they ask
    # for) at the same key, so last(ignorenulls) hands each probe the
    # cumulative sums at the greatest grid ts <= t - W - 1ns — i.e.
    # strictly BEFORE the trailing frame [t - W, t] on the integer
    # ns axis
    anchors = cums.select(
        *series_cols,
        F.col("_tns").alias("_k"),
        F.lit(0).alias("_kind"),
        F.col("_cs1").alias("_a1"),
        F.col("_cs2").alias("_a2"),
        F.col("_cn").alias("_an"),
        F.lit(None).cast("long").alias("_tns"),
        F.lit(None).cast("decimal(38,0)").alias("_o1"),
        F.lit(None).cast("decimal(38,0)").alias("_o2"),
        F.lit(None).cast("long").alias("_on"),
    )
    probes = cums.select(
        *series_cols,
        (F.col("_tns") - F.lit(w_ns + 1)).alias("_k"),
        F.lit(1).alias("_kind"),
        F.lit(None).cast("decimal(38,0)").alias("_a1"),
        F.lit(None).cast("decimal(38,0)").alias("_a2"),
        F.lit(None).cast("long").alias("_an"),
        "_tns",
        F.col("_cs1").alias("_o1"),
        F.col("_cs2").alias("_o2"),
        F.col("_cn").alias("_on"),
    )
    wa = _series_window(series_cols, "_k", ("_kind",)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    zero38 = F.lit(0).cast("decimal(38,0)")
    looked = (
        anchors.unionByName(probes)
        .select(
            *series_cols,
            "_kind",
            "_tns",
            "_o1",
            "_o2",
            "_on",
            F.last("_a1", ignorenulls=True).over(wa).alias("_b1"),
            F.last("_a2", ignorenulls=True).over(wa).alias("_b2"),
            F.last("_an", ignorenulls=True).over(wa).alias("_bn"),
        )
        .filter(F.col("_kind") == 1)
    )
    stats = looked.select(
        *series_cols,
        "_tns",
        (F.col("_o1") - F.coalesce(F.col("_b1"), zero38))
        .cast("double")
        .alias("_s1"),
        (F.col("_o2") - F.coalesce(F.col("_b2"), zero38))
        .cast("double")
        .alias("_s2"),
        (F.col("_on") - F.coalesce(F.col("_bn"), F.lit(0)))
        .cast("double")
        .alias("_n"),
    )
    mean, sd, upper, lower = _bands_from_sums(
        F.col("_s1"), F.col("_s2"), F.col("_n"), n_sigma
    )
    keys = [*series_cols, "_tns"]
    return base.join(stats, keys).select(
        *series_cols,
        F.col("_tns").alias("ts_ns"),
        F.col(value_col),
        mean.alias("mid"),
        sd.alias("sd"),
        upper.alias("upper"),
        lower.alias("lower"),
        (
            (F.col(value_col) > upper) | (F.col(value_col) < lower)
        ).alias("breach"),
    )


def time_weighted_integral(
    df: DataFrame,
    bucket_seconds: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Trapezoidal time-weighted integral per series per bucket — the
    area under the sampled curve in value*seconds (TimescaleDB
    ``integral`` analog; the 'rich time-series functions' north star,
    reference README.md:8). Each consecutive in-bucket pair
    (t_i, v_i), (t_i+1, v_i+1) contributes
    (v_i + v_i+1) / 2 * (t_i+1 - t_i) ns; pairs that CROSS a bucket
    boundary are excluded (documented contract: per-bucket areas sum
    sub-intervals fully inside the bucket, so bucket areas never
    double-count and the whole-series integral is their sum plus the
    boundary spans).

    Requires INT64-ns ``ts``. Determinism: the gap is integer-exact
    ns; each trapezoid term is one fixed double expression and the sum
    is a ts-ordered left fold (suite fold rules), divided once by the
    constant 1e9 — bit-identical across engines.

    Scale: one window shuffle on the series key (the lead), then one
    hash aggregate; per-(series, bucket) lists are bounded by points
    per bucket.
    """
    span = bucket_seconds * NS_PER_SEC
    ts, v = F.col(ts_col), F.col(value_col)
    # value as a tertiary sort key makes lead() deterministic under
    # duplicate (series, ts) rows (the r8 interp_align advice lesson)
    w = _series_window(series_cols, ts_col, (value_col,))
    nt = F.lead(ts_col).over(w)
    nv = F.lead(value_col).over(w)
    bucket = (ts - (ts % F.lit(span))).cast("long")
    nbucket = (nt - (nt % F.lit(span))).cast("long")
    x = (
        df.select(
            *series_cols,
            ts.alias("_t"),
            bucket.alias("bucket"),
            nbucket.alias("_nb"),
            ((v + nv) * F.lit(0.5) * (nt - ts).cast("double")).alias("_a"),
        )
        .filter(F.col("_nb") == F.col("bucket"))
    )
    agg = x.groupBy(*series_cols, "bucket").agg(
        F.array_sort(F.collect_list(F.struct(F.col("_t"), F.col("_a")))).alias("_l"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    area = F.aggregate(F.col("_l"), F.lit(0.0), lambda acc, t: acc + t["_a"])
    return agg.select(
        *series_cols,
        "bucket",
        (area / F.lit(1.0e9)).alias("integral"),
        "n_pairs",
    )


def max_drawdown(
    df: DataFrame,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Maximum drawdown per series: the largest peak-to-trough decline
    of the running maximum — the standard robustness summary for any
    cumulative series (finance's max-drawdown; for monitoring, 'how
    far below its high-water mark did this gauge fall'). Returns one
    row per series: (max_dd, max_dd_rel, peak) where max_dd is the
    largest absolute decline, max_dd_rel the largest relative decline
    against a POSITIVE running peak (NULL when no positive peak
    precedes a trough), and peak the series' overall maximum.

    Determinism: running max / global max of doubles are exact
    comparisons; dd = peak - v is one subtraction per row; the maxima
    are order-independent. No folds needed.

    Scale: one window shuffle on the series key, then one hash
    aggregate. Nothing quadratic; frames are unbounded-preceding
    running aggregates, which Spark evaluates incrementally (only
    bounded sliding frames pay the O(rows x frame) re-evaluation).
    """
    v = F.col(value_col)
    w = _series_window(series_cols, ts_col, (value_col,)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    run_peak = F.max(v).over(w)
    dd = run_peak - v
    dd_rel = F.when(run_peak > 0, dd / run_peak)
    x = df.select(
        *series_cols,
        dd.alias("_dd"),
        dd_rel.alias("_ddr"),
        v.alias("_v"),
    )
    return x.groupBy(*series_cols).agg(
        F.max("_dd").alias("max_dd"),
        F.max("_ddr").alias("max_dd_rel"),
        F.max("_v").alias("peak"),
    )


def uptime_sla(
    df: DataFrame,
    heartbeat_seconds: int,
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Heartbeat-based availability per series (TimescaleDB
    ``heartbeat_agg`` analog): each observation proves the series was
    live for min(next_ts - ts, heartbeat) ns; a gap longer than the
    heartbeat is downtime. Returns per series: span_ns (first to last
    observation), uptime_ns, availability (= uptime/span, NULL for a
    single-point series), n_gaps (gaps exceeding the heartbeat).

    Requires INT64-ns ``ts``. Determinism: everything is integer ns
    until the single final division; sums of longs stay well under
    2^63 for spans < ~292 years.

    Scale: one window shuffle on the series key (the lead), then one
    hash aggregate.
    """
    hb = heartbeat_seconds * NS_PER_SEC
    ts = F.col(ts_col)
    gap = F.lead(ts_col).over(_series_window(series_cols, ts_col)) - ts
    x = df.select(
        *series_cols,
        ts.alias("_t"),
        gap.alias("_g"),
    )
    return x.groupBy(*series_cols).agg(
        (F.max("_t") - F.min("_t")).cast("long").alias("span_ns"),
        F.sum(F.least(F.col("_g"), F.lit(hb))).cast("long").alias("uptime_ns"),
        (
            F.sum(F.least(F.col("_g"), F.lit(hb))).cast("double")
            / F.nullif((F.max("_t") - F.min("_t")).cast("double"), F.lit(0.0))
        ).alias("availability"),
        F.coalesce(
            F.sum((F.col("_g") > F.lit(hb)).cast("long")), F.lit(0)
        ).cast("long").alias("n_gaps"),
    )


def lttb_downsample(
    df: DataFrame,
    n_out: int,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling to ~n_out points per
    series (Steinarsson 2013), with FIXED bucket-mean anchors: the
    classic sequential LTTB anchors each bucket's triangle on the
    point SELECTED in the previous bucket, which is an inherently
    serial dependency; this distributed variant anchors on the
    previous/next buckets' mean points instead (the standard
    parallelization, used by e.g. downsampling gateways), which keeps
    every bucket's argmax independent — one pass, no sequential scan.
    First/last buckets emit their first/last point (LTTB endpoint
    contract).

    X coordinates are per-series RANK indices, not raw ns timestamps:
    buckets are equal-count (so rank-x and time-x give the same
    relative geometry within a bucket triple), and ns epochs exceed
    2^53, where double x-arithmetic would silently lose exactness
    (cross-engine hash risk). Determinism: bucket means use exact
    integer rank sums and decimal(18,6) value sums; the area formula
    is one fixed double expression; the per-bucket argmax breaks area
    ties by smallest rank via row_number ordered (area DESC, rank ASC).

    Scale: one window shuffle on the series key (rank), one grouped
    aggregate for bucket means (broadcast-sized: n_out rows per
    series), a broadcast-style equi-join of points to their bucket's
    neighbor means, and one per-bucket row_number. Nothing quadratic.
    """
    ts = F.col(ts_col)
    # rank ties on (ts, value): identical pairs are interchangeable,
    # so row_number is deterministic in effect
    w = _series_window(series_cols, ts_col, (value_col,))
    cnt_w = Window.partitionBy(*series_cols)
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(cnt_w)
    k = F.lit(int(n_out))
    # balanced equal-count buckets: floor((rn-1) * k / n) in exact
    # integer math (rn, n <= rows-per-series; the product stays long)
    x = df.select(
        *series_cols,
        ts.alias("_t"),
        F.col(value_col).alias("_v"),
        rn.alias("_rn"),
        n.alias("_n"),
        ((rn - 1).cast("long") * k / F.col("_n")).cast("long").alias("_b"),
    )
    means = x.groupBy(*series_cols, "_b").agg(
        (F.sum("_rn").cast("double") / F.count(F.lit(1))).alias("_mx"),
        _mean(F.col("_v")).alias("_my"),
    )
    wb = _series_window(series_cols, "_b")
    nbr = means.select(
        *series_cols,
        "_b",
        F.lag("_mx").over(wb).alias("_lx"),
        F.lag("_my").over(wb).alias("_ly"),
        F.lead("_mx").over(wb).alias("_rx"),
        F.lead("_my").over(wb).alias("_ry"),
    )
    j = x.join(nbr, [*series_cols, "_b"])
    xi = F.col("_rn").cast("double")
    area = F.abs(
        (F.col("_lx") - F.col("_rx")) * (F.col("_v") - F.col("_ly"))
        - (F.col("_lx") - xi) * (F.col("_ry") - F.col("_ly"))
    )
    # interior buckets: max-area point (ties -> smallest rank);
    # first/last bucket: the endpoint itself
    pick_w = Window.partitionBy(*series_cols, "_b").orderBy(
        F.col("_area").desc_nulls_last(), F.col("_rn").asc()
    )
    interior = (
        j.filter(F.col("_lx").isNotNull() & F.col("_rx").isNotNull())
        .withColumn("_area", area)
        .withColumn("_pick", F.row_number().over(pick_w))
        .filter(F.col("_pick") == 1)
    )
    edges = j.filter(
        (F.col("_lx").isNull() & (F.col("_rn") == 1))
        | (F.col("_rx").isNull() & (F.col("_rn") == F.col("_n")))
    )
    out_cols = [*series_cols, F.col("_b").alias("bucket"),
                F.col("_t").alias("ts_ns"), F.col("_v").alias("value")]
    return interior.select(*out_cols).unionByName(edges.select(*out_cols))


def sma_crossover(
    df: DataFrame,
    fast_rows: int = 5,
    slow_rows: int = 20,
    value_col: str = "value",
    series_cols: Sequence[str] = ("series",),
    ts_col: str = "ts",
) -> DataFrame:
    """Moving-average crossover events per series: rows where the
    fast simple moving average crosses the slow one ('golden' when it
    crosses above, 'death' below) — the canonical trend-change alarm
    (trading's golden/death cross; for monitoring, 'short-term load
    crossed its long-term norm'). Emits (series..., ts_ns, cross_dir)
    for crossing rows only.

    Determinism: both SMAs accumulate DECIMAL sums on the 1e-6
    quantized grid over ROWS frames (order-independent exact totals),
    the means are identical IEEE division trees in both engines, and
    a cross is a strict comparison flip between consecutive rows of a
    (ts, value)-ordered window. ROWS frames are bounded (5/20 rows),
    so Spark's O(rows x frame) sliding evaluation stays cheap by
    construction.

    Scale: ONE window shuffle on the series key shared by all four
    analytic columns (same partitioning+ordering), then a filter.
    """
    q = _grid6(F.col(value_col))

    def sma(rows: int):
        w = _series_window(series_cols, ts_col, (value_col,)).rowsBetween(
            -(rows - 1), 0
        )
        return (
            F.sum(q.cast("decimal(38,0)")).over(w).cast("double")
            / (F.count(F.lit(1)).over(w) * F.lit(1.0e6))
        )

    x = df.select(
        *series_cols,
        F.col(ts_col).alias("ts_ns"),
        sma(fast_rows).alias("_f"),
        sma(slow_rows).alias("_s"),
    )
    wl = _series_window(series_cols, "ts_ns", ("_f",))
    y = x.select(
        *series_cols,
        "ts_ns",
        "_f",
        "_s",
        F.lag("_f").over(wl).alias("_pf"),
        F.lag("_s").over(wl).alias("_ps"),
    )
    return (
        y.filter(
            F.col("_pf").isNotNull()
            & ((F.col("_f") > F.col("_s")) != (F.col("_pf") > F.col("_ps")))
        )
        .select(
            *series_cols,
            "ts_ns",
            F.when(F.col("_f") > F.col("_s"), F.lit("golden"))
            .otherwise(F.lit("death"))
            .alias("cross_dir"),
        )
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "series",
    ts_col: str = "ts",
    id_col: str = "event_id",
    top_k: int | None = None,
) -> DataFrame:
    """Markov transition counts over per-user event paths — the
    user-path-mining / Sankey primitive behind product-analytics "next
    action" views (the reference's event model stores the sequences;
    it ships no path operator). Per user, events order by
    (ts, id) — the id tiebreak makes the chain a pure function of the
    event SET — and each consecutive (src -> dst) step counts once.
    Returns (src, dst, n, rnk) with rnk ranking destinations within
    each src by count (desc, dst asc); ``top_k`` keeps the k most
    common destinations per source.

    Scale shape: ONE user-keyed window (lead) -> map-side-combined
    count on (src, dst) -> a rank window over the TRANSITION MATRIX
    (|types|^2 rows, tiny regardless of event volume). No self-joins,
    no per-user collect."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    steps = (
        df.select(user_col, F.col(type_col).alias("src"), ts_col, id_col)
        .withColumn("dst", F.lead("src").over(w))
        .filter(F.col("dst").isNotNull())
    )
    counts = steps.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    rw = Window.partitionBy("src").orderBy(F.col("n").desc(), F.col("dst").asc())
    out = counts.withColumn("rnk", F.row_number().over(rw))
    if top_k is not None:
        out = out.filter(F.col("rnk") <= top_k)
    return out


def event_paths_topk(
    df: DataFrame,
    k: int = 20,
    path_len: int = 3,
    gap_ns: int = 1_800 * 10**9,
    user_col: str = "user_id",
    type_col: str = "series",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-k event PATHS: the most common length-``path_len`` ordered
    event-type sequences inside user SESSIONS (gap-based, ``gap_ns``
    idle cutoff) — the product-analytics "top paths" view (ClickHouse
    sequenceCount / Amplitude Pathfinder class) one level up from
    :func:`event_transitions`' single-step matrix. Returns
    (path, n) with path as 'a>b>c', deterministically tie-broken.

    Scale shape: one user-keyed window pass derives session breaks
    (lag + running sum — the sessionize rule), a second window over
    (user, session) leads ``path_len - 1`` steps forward, then a
    map-side-combined count on the path string and TakeOrdered top-k.
    Both windows share the user partitioning (one Exchange + two
    sorts); the counted relation is |paths| <= |events| rows and the
    ranked relation is the distinct-path table — never per-user
    collects, never self-joins."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    brk = F.when(
        F.col(ts_col) - F.lag(ts_col).over(w) > F.lit(gap_ns), 1
    ).otherwise(0)
    s = (
        df.select(user_col, F.col(type_col).alias("a"), ts_col, id_col)
        .withColumn("_brk", brk)
        .withColumn(
            "sid",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    sw = Window.partitionBy(user_col, "sid").orderBy(ts_col, id_col)
    # window expressions are not filterable in-place: project the lead
    # steps to named columns first, then filter / concat over them
    step_cols = [F.col("a").alias("_s0")] + [
        F.lead("a", i).over(sw).alias(f"_s{i}") for i in range(1, path_len)
    ]
    proj = s.select(*step_cols)
    cond = F.lit(True)
    for i in range(1, path_len):
        cond = cond & F.col(f"_s{i}").isNotNull()
    paths = (
        proj.filter(cond)
        .select(
            F.concat_ws(
                ">", *[F.col(f"_s{i}") for i in range(path_len)]
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return paths.orderBy(F.col("n").desc(), F.col("path").asc()).limit(k)


def burn_rate(
    df: DataFrame,
    bucket_seconds: int,
    short_buckets: int,
    long_buckets: int,
    error_type: str = "error",
    slo_error_rate: float = 0.05,
    burn_threshold: float = 2.0,
    type_col: str = "series",
    ts_col: str = "ts",
) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google SRE-workbook
    rule, public): per time bucket, the error rate over a SHORT and a
    LONG trailing window must BOTH exceed ``burn_threshold`` x the SLO
    budget for the alert to fire — the short window gives fast
    detection, the long window suppresses blips.

    Scale design: rates aggregate per BUCKET first (one map-side-
    combined hash aggregate over the raw events), and the trailing
    windows run over the BUCKET series — cardinality = time-range /
    bucket, independent of event volume — never as row-level range
    frames (Spark re-evaluates sliding frames per row: O(rows x
    frame), the r8 ts_bollinger lesson). Windows count OBSERVED
    buckets (rowsBetween over the gapless-by-construction bucket
    grid of a dense series; an empty bucket simply contributes no
    row on either engine). Rates are integer-count divisions — one
    double division, bit-identical on both engines."""
    b = time_bucket(df, bucket_seconds, ts_col=ts_col)
    per = b.groupBy("bucket").agg(
        F.sum(
            F.when(F.col(type_col) == error_type, F.lit(1)).otherwise(
                F.lit(0)
            )
        ).cast("long").alias("err_n"),
        F.count(F.lit(1)).alias("total_n"),
    )
    ww = Window.orderBy("bucket")
    sw = ww.rowsBetween(-(short_buckets - 1), 0)
    lw = ww.rowsBetween(-(long_buckets - 1), 0)
    out = per.select(
        "bucket",
        "err_n",
        "total_n",
        F.sum("err_n").over(sw).alias("s_err"),
        F.sum("total_n").over(sw).alias("s_total"),
        F.sum("err_n").over(lw).alias("l_err"),
        F.sum("total_n").over(lw).alias("l_total"),
    )
    s_rate = F.col("s_err") / F.col("s_total").cast("double")
    l_rate = F.col("l_err") / F.col("l_total").cast("double")
    thr = F.lit(burn_threshold * slo_error_rate)
    return out.withColumn(
        "alert", (s_rate > thr) & (l_rate > thr)
    )
