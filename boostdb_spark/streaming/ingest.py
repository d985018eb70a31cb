"""Streaming ingest/egress for series-family tables.

Re-expresses the reference's async write pipeline
(client/boostsession.go:149-184: per-write goroutines;
client/m3dbseriesfamily.go:230-239: spin-wait backpressure at
``maxConcurrentWrites``; ``Wait(timeout)`` durability barrier at
m3dbseriesfamily.go:106-123) as Structured Streaming:

- ``stream_write`` — ``writeStream`` into the same date-partitioned
  Parquet layout the batch path uses, exactly-once via checkpointing.
  The checkpoint replaces the ``Wait`` barrier; ``maxFilesPerTrigger``
  / ``maxBytesPerTrigger`` on the source replace the concurrency gate.
  A family takes one kind of writer: Spark reads a stream-written
  family through the sink's ``_spark_metadata`` log only, so batch and
  streaming ingest do not interleave in one family
  (``SeriesFamily._check_writer`` refuses the second kind).
- ``read_family_stream`` — ``readStream`` over a family path so a
  downstream query runs continuously over arriving data — the
  reference's executor loop (one ``Execute()`` per time slice,
  examples/basic_client/main.go:211-250) without the driver loop.

Scale posture: each micro-batch writes date-partitioned files, so a
1000-executor cluster appends in parallel with no coordination beyond
the (driver-side, O(files)) checkpoint commit; readers prune by the
same partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from boostdb_spark.sources.seriesfamily import DATE_COL, SeriesFamily


def stream_write(
    family: SeriesFamily,
    stream_df: DataFrame,
    checkpoint: str,
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Continuously append a streaming DataFrame to a series family.

    ``stream_df`` must carry (series, ts, value, ...); the ``ts_date``
    partition column is derived by the batch write's own helper, so the
    layout is the batch path's. The family must hold no batch-written
    data: once the sink's ``_spark_metadata`` log exists Spark reads only
    the files it names, so a family that ``SeriesFamily.write`` filled
    raises ``ValueError`` naming ``domain.family`` before the query
    starts (and a stream-written family refuses ``write`` and
    ``compact`` the same way).

    ``trigger``: kwargs for ``DataStreamWriter.trigger`` — e.g.
    ``{"processingTime": "10 seconds"}`` (the reference's 200 ms
    ``executionWindowSize`` analog, query/executor/executor_test.go:51) or
    ``{"availableNow": True}`` for drain-and-stop.
    """
    family._check_writer(stream=True)
    out = stream_df.withColumn(DATE_COL, F.to_date(SeriesFamily._ts_expr(stream_df)))
    writer = (
        out.writeStream.format("parquet")
        .option("path", family.path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(DATE_COL)
        .outputMode("append")
    )
    if query_name:
        writer = writer.queryName(query_name)
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def read_family_stream(
    spark: SparkSession,
    family: SeriesFamily,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open a series family as a streaming source (new files as they
    land). ``max_files_per_trigger`` is the backpressure gate
    (m3dbseriesfamily.go:230-239's ``maxConcurrentWrites`` analog).
    The schema is ``family.read()``'s: every file's columns merged, and
    a family with no data files raises its named ``ValueError``.
    """
    schema = family.read().schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(family.path)


def file_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Generic file-based streaming source (parquet/csv/json) with the
    schema inferred from a batch peek — convenience for tests and for
    pointing the engine at an arbitrary landing directory."""
    schema = spark.read.format(fmt).load(path).schema
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)
