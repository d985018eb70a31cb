"""Series-family storage layer: time-partitioned Parquet tables.

Reference semantics being re-expressed (not ported):

- ``SeriesFamily.WriteTagged`` (client/m3dbseriesfamily.go:147-185) writes
  one datapoint ``(series, ts, value)`` with series-level *tags* and
  per-datapoint *attributes*, round-robined over ``distributionFactor``
  physical shards (m3dbseriesfamily.go:156-168). Here: a DataFrame append
  to a date-partitioned Parquet table. Spark's file-level parallelism
  replaces explicit shards; Parquet dictionary pages replace the symbol
  table (core/symtable.go:28-55).
- ``SeriesFamily.Fetch`` (m3dbseriesfamily.go:188-222) fans out one fetch
  per shard and k-way-merges iterators by timestamp
  (client/boostseriesiterator.go:270-343). Here: a partition-pruned read
  plus ``ORDER BY ts`` — the merge iterator is the SortExec.

Scale posture: the table is partitioned by ``ts_date = to_date(ts)``.
Spark derives no partition filter from a predicate on ``ts`` alone, so
``apply_time_range`` adds the matching ``ts_date`` bound itself (one day
of slack each side: ``ts_date`` is a date in the WRITER's session zone,
unknown at read time) and a time-ranged fetch lists only the days it
asks for. Within a partition, ``write`` sizes files by volume (one
file for a small day, files of about the AQE advisory partition size
for a big one) and sorts each file by ``(series, ts)``, so min/max
row-group and page stats make series and time predicates skippable
inside a file.

A handle holds one analyzed relation per file set. Parquet files are
immutable once written (Spark writers only add files under fresh names
and delete whole files), so the set of ``(path, size, mtime_ns)`` of
every file under the family path determines what a read returns.
``SeriesFamily.read`` takes that set from one recursive pyarrow listing
(0.6 ms for the 62 files of a 30-day family on a 4-core host, where
re-running Spark's listing took 28 ms) and, while it is unchanged,
hands back the same DataFrame without a Spark call; any
change (a write or compaction through any handle, a stream sink's part
files and ``_spark_metadata`` log, a delete) runs the ``mergeSchema``
read again. That is the reference's cached per-family handle
(query/executor/executor.go:394-423), keyed by the files it reads.
"""

from __future__ import annotations

import numbers
from datetime import date, timedelta
from functools import reduce
from operator import and_

import pyarrow.fs as pafs
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from boostdb_spark.functions.scalar import ts_sql

#: canonical column names (FIXTURES.md section 1)
TS = "ts"
SERIES = "series"
VALUE = "value"
DATE_COL = "ts_date"

DAY_NS = 86_400_000_000_000

#: Spark's errors for a parquet read that finds no data files: no path,
#: no file to infer a schema from, and (Spark 4.1's legacy code for the
#: same) a stream sink's metadata log that has committed no file yet
_NO_DATA_CONDITIONS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA", "_LEGACY_ERROR_TEMP_1134")


class SeriesFamily:
    """A table-like collection of series (core/seriesfamily.go:8-11).

    ``domain.family`` is the qualified FROM name
    (query/base/queryops.go:44-58); here it maps to a storage path and a
    registered view name ``domain__family``.
    """

    def __init__(self, spark: SparkSession, domain: str, family: str, root: str):
        self.spark = spark
        self.domain = domain
        self.family = family
        self.path = f"{root.rstrip('/')}/{domain}/{family}"
        #: ``path`` qualified the way Spark qualifies it (a relative path
        #: resolves against the default filesystem's working directory)
        self._uri = _qualified_uri(spark, self.path)
        #: (file-set key, merged-schema DataFrame) of the last read
        self._held: tuple[frozenset, DataFrame] | None = None
        #: whether ``register`` bound ``view_name`` through this handle
        self._registered = False

    @property
    def qualified_name(self) -> str:
        return f"{self.domain}.{self.family}"

    @property
    def view_name(self) -> str:
        return f"{self.domain}__{self.family}"

    # ------------------------------------------------------------------ write
    def write(self, df: DataFrame, mode: str = "append") -> None:
        """Append datapoints. Expects at least (series, ts, value) plus any
        tag/attribute columns; schema evolution is allowed (the reference
        creates attributes on first write, core/symtable.go:288-321 — here
        ``mergeSchema`` on read handles it).

        ``ts`` may be TimestampType or INT64 ns (ns-native reference,
        core/seriesfamily.go:23). A ``ts_date`` partition column is derived
        for pruning.

        File size follows data volume: a ``rebalance`` on ``ts_date``
        lets AQE write a small day as one file and split a day bigger
        than ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` into
        files of about that size (the write-side spread of
        m3dbseriesfamily.go:156-168, sized by bytes instead of a fixed
        shard count). The layout relies on AQE: with it off, a day goes
        to a single writer. Series skipping inside a day comes from the
        per-file ``(series, ts)`` sort and the row-group/page stats it
        makes selective, not from one file per series bucket.
        """
        ts_as_time = self._ts_expr(df)
        out = df.withColumn(DATE_COL, F.to_date(ts_as_time))
        # sortWithinPartitions (not orderBy): no global sort on ingest,
        # just per-file clustering for stats-based skipping. ts_date
        # leads because a write task may hold several days: the planned
        # write needs its input ordered by the partition column, and for
        # any other ordering it sorts by ts_date alone and the optimizer
        # drops the (series, ts) sort beneath it.
        out = out.hint("rebalance", DATE_COL).sortWithinPartitions(DATE_COL, SERIES, TS)
        (
            out.write.mode(mode)
            .option("mergeSchema", "true")
            .partitionBy(DATE_COL)
            .parquet(self.path)
        )
        if self._registered:
            self.register()

    def compact(
        self,
        files_per_day: int = 1,
        dates: list | None = None,
    ) -> None:
        """Small-file compaction — the maintenance job continuous ingest
        needs: streaming micro-batches append a few rows per trigger, so
        a day accumulates hundreds of tiny files whose per-file open
        cost dominates scans long before data volume does. Rewrites
        each (selected) date partition into ``files_per_day`` files,
        restoring the (series, ts) in-file clustering the bulk write
        path produces.

        ``dates`` limits the rewrite to specific ``ts_date`` values
        (normal operation: yesterday's partition, once, after ingest
        moves on — compaction cost stays O(one day), not O(table)).
        Uses dynamic partition overwrite so untouched dates are never
        rewritten; the read is materialized (localCheckpoint) first so
        the job never overwrites files it is still reading. Same
        atomicity caveat as any non-transactional parquet rewrite:
        concurrent readers of the exact partition being swapped can see
        a partial listing; run it when the partition is cold.
        """
        df = self.read()
        if dates is not None:
            df = df.filter(F.col(DATE_COL).isin([str(d) for d in dates]))
        bucket = F.pmod(F.hash(F.col(SERIES)), F.lit(files_per_day))
        out = (
            df.repartition(F.col(DATE_COL), bucket)
            .sortWithinPartitions(SERIES, TS)
            .localCheckpoint(eager=True)
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(DATE_COL)
            .parquet(self.path)
        )
        if self._registered:
            self.register()

    @staticmethod
    def _ts_expr(df: DataFrame):
        # integer `div`, not float `/`: ns-scale longs exceed 2^53 and
        # would round when routed through a double
        if dict(df.dtypes)[TS] in ("bigint", "long"):
            return F.timestamp_micros(F.expr(f"{TS} div 1000"))
        return F.col(TS)

    # ------------------------------------------------------------------- read
    def read(self) -> DataFrame:
        """The whole family, every file's columns merged (``mergeSchema``).

        The handle holds one analyzed DataFrame per file set. Its key is
        the ``(path, size, mtime_ns)`` of every file under ``path``, from
        one recursive pyarrow listing: while the key is unchanged,
        ``read`` returns the held DataFrame itself and makes no Spark
        call. Any change to the files, made through this handle or
        another one, by a stream sink, or by a delete, runs the
        ``mergeSchema`` read (a Spark job over every file footer) and
        holds its result. A path that is not on the local filesystem
        (``s3a://``, ``hdfs://``) is keyed by Spark's own listing,
        ``inputFiles()`` of a read with the held schema, instead.

        Input contract: a family with no data files (never written,
        written only empty frames, or a stream sink whose log has
        committed no file yet) has no schema to read, and ``read``
        raises ``ValueError`` naming ``domain.family``."""
        key = _file_set(self._uri)
        if key is None:
            return self._read_by_spark_listing()
        if self._held is None or self._held[0] != key:
            self._held = (key, self._merged_read())
        return self._held[1]

    def _read_by_spark_listing(self) -> DataFrame:
        if self._held is not None:
            files, held = self._held
            probe = self._parquet(self.spark.read.schema(held.schema))
            if frozenset(probe.inputFiles()) == files:
                return held
        df = self._merged_read()
        self._held = (frozenset(df.inputFiles()), df)
        return df

    def _merged_read(self) -> DataFrame:
        return self._parquet(self.spark.read.option("mergeSchema", "true"))

    def _parquet(self, reader) -> DataFrame:
        """``reader`` over ``path``. Where Spark's own file index finds no
        data files (no path, ``_SUCCESS`` alone, or a stream sink whose
        ``_spark_metadata`` log has committed none), its error becomes
        the named ``ValueError`` of the input contract."""
        try:
            return reader.parquet(self.path)
        except AnalysisException as e:
            if e.getCondition() in _NO_DATA_CONDITIONS:
                raise self._no_data_error() from e
            raise

    def _no_data_error(self) -> ValueError:
        return ValueError(
            f"series family {self.qualified_name} has no data files under "
            f"{self.path}: write rows to it before reading it"
        )

    def fetch(
        self,
        series: str | list[str] | None = None,
        start=None,
        end=None,
        ordered: bool = True,
    ) -> DataFrame:
        """Time-ordered scan of one/many/all series in ``[start, end)``.

        Equivalent of Fetch + BoostSeriesIterator (m3dbseriesfamily.go:
        188-222, boostseriesiterator.go:157-343): the implicit time range
        every reference query carries (query/executor/executor.go:145-147)
        is an explicit predicate here: ONE filter on the held relation
        (see ``read``), the series predicate ANDed with the time range.
        INT64-ns bounds prune ``ts_date`` partitions to
        ``[date(start) - 1 day, date(end - 1 ns) + 1 day]`` (the slack
        covers any writer time zone, see ``apply_time_range``) and reach
        the parquet scan as PushedFilters for row-group skipping.
        """
        where = None
        if isinstance(series, str):
            where = F.col(SERIES) == series
        elif series is not None:
            where = F.col(SERIES).isin(series)
        df = apply_time_range(self.read(), start, end, where=where)
        if ordered:
            # Per-series time order with deterministic tie-break — the
            # contract the k-way merge iterator provides
            # (boostseriesiterator.go:301-343).
            df = df.orderBy(SERIES, TS)
        return df

    def register(self) -> DataFrame:
        """Bind the temp view ``view_name`` to the family as it is now.

        The view holds the file listing of this moment. ``write`` and
        ``compact`` through this handle re-register it; a writer going
        through another handle or a stream must call ``register`` again
        before the view sees its files (after a compaction, a stale view
        names files that no longer exist)."""
        df = self.read()
        df.createOrReplaceTempView(self.view_name)
        self._registered = True
        return df


def apply_time_range(
    df: DataFrame, start=None, end=None, ts_col: str = TS, where: Column | None = None
) -> DataFrame:
    """``[start, end)`` half-open time-range predicate (executor.go:239-252).

    Works for TimestampType and INT64-ns ``ts`` columns alike; INT64-ns
    bounds are printed as literals of the column's native dtype
    (``ts_sql``), so the predicate still reaches the parquet scan as
    PushedFilters.

    On a series-family frame (``ts_col`` is ``ts`` and the frame carries
    the ``ts_date`` partition column) an INT64-ns bound also bounds
    ``ts_date``, which Spark prunes partitions by: it derives no
    partition filter from ``ts`` itself. ``ts_date`` is ``to_date(ts)``
    in the writer's session time zone, unknown here, so the bound is
    the UTC date widened by one day each side; every zone offset is
    under a day, so no row in range is dropped.

    The INT64-ns bounds, ``ts`` and ``ts_date`` alike, are one SQL
    expression (one ``F.expr``): every Column call is a py4j round trip,
    and a ranged fetch would otherwise build about a dozen. Other bounds
    (datetime, string) compare ``ts`` with ``F.lit``. ``where`` (a
    caller's own predicate, such as a series filter) is ANDed in front
    of the bounds, and the frame gets ONE ``filter``: Spark analyzes
    every DataFrame call eagerly, so each extra filter is an extra
    analysis of the whole plan.
    """

    def _day(ns: int) -> date:
        return date(1970, 1, 1) + timedelta(days=int(ns) // DAY_NS)

    conds = [] if where is None else [where]
    text = []
    col = "`" + ts_col.replace("`", "``") + "`"
    pruned = ts_col == TS and DATE_COL in df.columns
    if isinstance(start, numbers.Integral):
        text.append(f"{col} >= {ts_sql(dict(df.dtypes)[ts_col], start)}")
        if pruned:
            text.append(f"{DATE_COL} >= DATE'{_day(start) - timedelta(days=1)}'")
    elif start is not None:
        conds.append(F.col(ts_col) >= F.lit(start))
    if isinstance(end, numbers.Integral):
        text.append(f"{col} < {ts_sql(dict(df.dtypes)[ts_col], end)}")
        if pruned:
            text.append(f"{DATE_COL} <= DATE'{_day(end - 1) + timedelta(days=1)}'")
    elif end is not None:
        conds.append(F.col(ts_col) < F.lit(end))
    if text:
        conds.append(F.expr(" AND ".join(text)))
    return df.filter(reduce(and_, conds)) if conds else df


def _qualified_uri(spark: SparkSession, path: str) -> str | None:
    """``path`` as the URI Spark reads, or None when Spark has no
    filesystem for its scheme (the read then fails on its own)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    except Py4JJavaError:
        return None
    return fs.makeQualified(p).toUri().toString()


def _file_set(uri: str | None) -> frozenset | None:
    """``(relative path, size, mtime_ns)`` of every file under ``uri``,
    from one recursive pyarrow listing; None unless ``uri`` is a local
    ``file:`` URI. pyarrow's object-store and HDFS clients take their
    endpoints and credentials from their own environment, not from
    Spark's Hadoop configuration, so they could list something other
    than what Spark reads."""
    if uri is None or not uri.startswith("file:"):
        return None
    fs, root = pafs.FileSystem.from_uri(uri)
    infos = fs.get_file_info(pafs.FileSelector(root, recursive=True, allow_not_found=True))
    return frozenset(
        (i.path[len(root):].lstrip("/"), i.size, i.mtime_ns)
        for i in infos
        if i.type == pafs.FileType.File
    )

