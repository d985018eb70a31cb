"""Event-time windowed aggregation: tumbling, sliding, session —
with watermark-based late-data handling.

The reference slices query time into fixed ``executionWindowSize``
windows and runs one batch per slice (query/executor/executor.go:
239-252); it has no watermarks, no sliding or session windows, and no
late-data story (SURVEY.md §2.6 marks all ABSENT). These helpers are
the idiomatic Spark completion of that declared streaming intent.

Every helper works on BOTH batch and streaming DataFrames — the same
plan, so the DuckDB-oracle batch entries in the suite certify the exact
semantics the streaming path executes, and tests/test_streaming.py
proves streaming == batch on the same input.

Scale posture: windowed aggregation shuffles once on (window, keys);
partial aggregation is map-side; state store size is bounded by the
watermark horizon, so memory is O(active windows), not O(stream).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _with_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    # Watermarks only apply to streaming plans; on batch they are a no-op
    # but Spark still validates the column, so guard on isStreaming.
    if watermark is not None and df.isStreaming:
        return df.withWatermark(ts_col, watermark)
    return df


def _agg_name(c: Column) -> str:
    """Resolve the output name of an aliased aggregate column."""
    # Column string form is like "sum(value) AS total"; require an alias
    s = str(c)
    if " AS " in s:
        return s.split(" AS ")[-1].strip("'`>")
    raise ValueError(f"aggregate columns must be aliased: {s}")


def _window_agg(
    df: DataFrame,
    window_col: Column,
    keys: Sequence[str],
    aggs: Sequence[Column],
    ts_col: str,
    watermark: str | None,
) -> DataFrame:
    """The shared body: watermark, group by (``window_col``, keys),
    flatten the window struct. Output: win_start, win_end, *keys,
    *aggs."""
    return (
        _with_watermark(df, ts_col, watermark)
        .groupBy(window_col.alias("_w"), *keys)
        .agg(*aggs)
        .select(
            F.col("_w.start").alias("win_start"),
            F.col("_w.end").alias("win_end"),
            *keys,
            *[F.col(_agg_name(a)) for a in aggs],
        )
    )


def tumbling_agg(
    df: DataFrame,
    duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Non-overlapping event-time windows of ``duration`` per key.

    Output columns: win_start, win_end, *keys, *aggs.
    """
    return _window_agg(
        df, F.window(F.col(ts_col), duration), keys, aggs, ts_col, watermark
    )


def sliding_agg(
    df: DataFrame,
    duration: str,
    slide: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows of ``duration`` advancing every ``slide`` —
    each row contributes to duration/slide windows. Output:
    win_start, win_end, *keys, *aggs."""
    return _window_agg(
        df, F.window(F.col(ts_col), duration, slide), keys, aggs, ts_col,
        watermark,
    )


def session_agg(
    df: DataFrame,
    gap: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Session windows: per key, rows closer than ``gap`` merge into one
    session (dynamic-length window). Output: win_start, win_end, *keys,
    *aggs. On streaming, requires a watermark (state eviction)."""
    return _window_agg(
        df, F.session_window(F.col(ts_col), gap), keys, aggs, ts_col, watermark
    )
