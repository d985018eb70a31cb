"""Time-sliced execution — the reference's core execution loop,
re-expressed.

The reference cuts every query's ``[startTime, endTime)`` span into
``executionWindowSize`` slices and the caller loops ``Execute()`` /
``ResultSet()`` once per slice until done (query/executor/executor.go:
184-274, 239-252; driver loop examples/basic_client/main.go:211-250).
That loop exists because the native engine must bound per-batch memory.
Spark doesn't need it for memory (operators pipeline and spill), so:

- ``time_slices`` gives the loop when the CALLER wants slice semantics
  (e.g. incremental export, per-window checkpointing). Each slice is a
  partition-pruned DataFrame — at 100 TB each slice scans only its
  time partitions, so the loop costs no more than one full scan.
- ``foreach_slice`` is the streaming form: Structured Streaming's
  micro-batch clock replaces the wall-clock slice, via ``foreachBatch``.
- For plain queries, DON'T slice — one declarative query beats a
  driver loop (SURVEY.md section 4: pipelining is built in).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from boostdb_spark.sources.seriesfamily import apply_time_range

NS_PER_SEC = 1_000_000_000


def time_slices(
    df: DataFrame,
    start_ns: int,
    end_ns: int,
    window_ns: int,
    ts_col: str = "ts",
) -> Iterator[tuple[int, int, DataFrame]]:
    """Yield ``(slice_start_ns, slice_end_ns, slice_df)`` over the
    half-open span ``[start_ns, end_ns)`` in ``window_ns`` steps — the
    executor's window-advance loop (executor.go:239-252). The bounds
    are INT64 ns; ``ts_col`` may be INT64 ns or a timestamp column.

    Each slice is ``apply_time_range``. On a frame without ``ts_date``
    its bounds reach the scan as PushedFilters (row-group skipping), so
    iterating all slices reads each byte once. On a series-family frame
    a slice prunes ``ts_date`` partitions with one day of slack each
    side and checks ``ts`` after the scan, so a slice also decodes the
    rows of its slack days.
    """
    lo = start_ns
    while lo < end_ns:
        hi = min(lo + window_ns, end_ns)
        yield lo, hi, apply_time_range(df, lo, hi, ts_col)
        lo = hi


def execute_sliced(
    df: DataFrame,
    start_ns: int,
    end_ns: int,
    window_ns: int,
    fn: Callable[[DataFrame, int, int], None],
    ts_col: str = "ts",
) -> int:
    """Run ``fn(slice_df, slice_start, slice_end)`` for every slice;
    returns the slice count. The Execute()-until-done driver loop
    (examples/basic_client/main.go:211-250) with the paging machinery
    (executor.go:207-237) deleted — Spark streams results instead of
    saving iterator positions."""
    n = 0
    for lo, hi, sdf in time_slices(df, start_ns, end_ns, window_ns, ts_col):
        fn(sdf, lo, hi)
        n += 1
    return n


def foreach_slice(
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Streaming slice loop: ``fn(batch_df, batch_id)`` per micro-batch
    via ``foreachBatch``. The trigger interval is the
    ``executionWindowSize`` analog (200 ms in the reference,
    executor_test.go:51) — except slices are data-driven micro-batches
    with exactly-once bookkeeping, not wall-clock windows."""
    writer = (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
    )
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()


def export_pages(
    df: DataFrame,
    base: str,
    start_ns: int,
    end_ns: int,
    window_ns: int,
    ts_col: str = "ts",
) -> tuple[int, int]:
    """Materialized RESUMABLE page export: each slice of
    ``[start_ns, end_ns)`` lands as its own ``slice_id=<i>`` parquet
    page under ``base``; a slice whose page directory already exists
    (with a parquet _SUCCESS marker) is SKIPPED, so a crashed export
    re-run completes only the missing pages — the positional-resume
    semantics of the reference's SaveResultSetPosition/paging machinery
    (executor.go:207-237) with the filesystem as the position store.
    Returns ``(slices_total, slices_written)``.

    Resume detection goes through the Hadoop ``FileSystem`` API (the
    same resolver the writer itself uses), so it works uniformly for
    local paths, HDFS, and object stores — not just driver-mounted
    filesystems. With success markers disabled
    (``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``) no
    page ever looks complete, so the export would silently degrade to
    a full re-run every time; that misconfiguration is rejected
    loudly instead."""
    spark = df.sparkSession
    hconf = spark._jsc.hadoopConfiguration()
    if (
        hconf.get(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "true"
        ).lower()
        == "false"
    ):
        raise ValueError(
            "export_pages resume requires _SUCCESS markers; "
            "mapreduce.fileoutputcommitter.marksuccessfuljobs is false — "
            "re-enable it or use execute_sliced for marker-free export"
        )
    jvm = spark._jvm
    written = 0
    total = 0
    for lo, _hi, sdf in time_slices(df, start_ns, end_ns, window_ns, ts_col):
        i = (lo - start_ns) // window_ns
        page = f"{base.rstrip('/')}/slice_id={i}"
        total += 1
        marker = jvm.org.apache.hadoop.fs.Path(f"{page}/_SUCCESS")
        fs = marker.getFileSystem(hconf)
        if fs.exists(marker):
            continue  # resume: this page completed in a prior run
        sdf.write.mode("overwrite").parquet(page)
        written += 1
    return total, written
