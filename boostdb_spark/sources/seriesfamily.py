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
``family_predicate`` adds the matching ``ts_date`` bound itself (one day
of slack each side: ``ts_date`` is a date in the WRITER's session zone,
unknown at read time) and a time-ranged fetch lists only the days it
asks for. Within a partition, ``write`` sizes files by volume (one
file for a small day, files of about the AQE advisory partition size
for a big one) and sorts each file by ``(series, ts)``, so min/max
row-group and page stats make series predicates skippable inside a
file.

The exact ``[start, end)`` check on a family scan is evaluated, not
compiled: ``exists(array(ts), _t -> _t >= lo AND _t < hi)``. Spark
inlines long and double literals into whole-stage generated Java, so
plain ``ts`` comparisons made every new range compile the scan's
class again, twice (Spark's compile cache is keyed by class loader
too, and the py4j and executor threads use different loaders): 16
Janino compiles per warm round of perfbench's seven ``tsdb_query``
operations. The lambda keeps its literals inside the expression
object, so the generated source is the same for every range and a
warm round compiles 2. The costs, all on a family scan:
``ts`` leaves the scan's PushedFilters, so the rows of the ±1-day
slack days are decoded rather than skipped by row-group statistics
(traced seed 7 ``spark.rows_scanned_per_result`` 258.6 → 297.5); the
Filter leaves whole-stage codegen; and each row that reaches the
check is interpreted. A frame without ``ts_date`` keeps plain
comparisons, since ``ts`` statistics are all the skipping it has.

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

import pyarrow.fs as pafs
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from boostdb_spark.functions.scalar import _ident, _lit, ts_sql

#: canonical column names (FIXTURES.md section 1)
TS = "ts"
SERIES = "series"
VALUE = "value"
DATE_COL = "ts_date"

DAY_NS = 86_400_000_000_000

#: a stream sink's metadata log: once a family path holds it, Spark reads
#: only the files the log names
STREAM_LOG = "_spark_metadata"

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

        A family written by ``streaming.stream_write`` refuses a batch
        write with a ``ValueError`` naming ``domain.family``: Spark reads
        such a family through its ``_spark_metadata`` log only, so the
        rows would never be read.
        """
        self._check_writer(stream=False)
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

        Only a batch-written family compacts. A family written by
        ``streaming.stream_write`` raises ``ValueError`` naming
        ``domain.family``: its ``_spark_metadata`` log still names the
        files a rewrite deletes, so every later read would fail.
        """
        self._check_writer(stream=False)
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

    def _check_writer(self, stream: bool) -> None:
        """Refuse a second kind of writer, from one listing of the family
        directory (pyarrow on a local path: no Spark job, no py4j call).

        A family takes batch writes (``write``, ``compact``) or one
        stream sink (``streaming.stream_write``), never both. Once the
        path holds a stream sink's ``_spark_metadata`` log, Spark reads
        only the files the log names: a batch write's rows are never
        read, and a compaction deletes files the log still names. So
        ``stream=False`` raises ``ValueError`` on a family that holds
        the log, and ``stream=True`` on one that holds batch-written
        ``ts_date`` partitions and no log."""
        names = _dir_names(self.spark, self._uri)
        if stream and STREAM_LOG not in names and any(
            n.startswith(f"{DATE_COL}=") for n in names
        ):
            raise ValueError(
                f"series family {self.qualified_name} holds batch-written data "
                f"under {self.path}: a stream sink's {STREAM_LOG} log would hide "
                "it from every read; stream into a family of its own"
            )
        if not stream and STREAM_LOG in names:
            raise ValueError(
                f"series family {self.qualified_name} is written by a stream sink "
                f"({STREAM_LOG} under {self.path}): reads see only the files its "
                "log names, so a batch write or compaction is refused"
            )

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
        start: int | None = None,
        end: int | None = None,
        ordered: bool = True,
    ) -> DataFrame:
        """Time-ordered scan of one/many/all series in ``[start, end)``.

        Equivalent of Fetch + BoostSeriesIterator (m3dbseriesfamily.go:
        188-222, boostseriesiterator.go:157-343): the implicit time range
        every reference query carries (query/executor/executor.go:145-147)
        is an explicit predicate here: ONE filter on the held relation
        (see ``read``), the text of ``family_predicate`` in one
        ``F.expr``. ``start``/``end`` are INT64 ns or None (the
        reference's contract); another type raises ``ValueError``. The
        bounds prune ``ts_date`` partitions to
        ``[date(start) - 1 day, date(end - 1 ns) + 1 day]`` (the slack
        covers any writer time zone); the series reach the parquet scan
        as PushedFilters. The exact ``ts`` check is evaluated, so a new
        range compiles nothing, at the costs the module docstring
        lists: ``ts`` is not in PushedFilters (the slack days' rows are
        decoded), the Filter is outside whole-stage codegen, and each
        row that reaches the check is interpreted.
        """
        df = self.read()
        where = family_predicate(dict(df.dtypes), series, start, end)
        if where:
            df = df.filter(F.expr(where))
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
    df: DataFrame, start: int | None = None, end: int | None = None, ts_col: str = TS
) -> DataFrame:
    """``[start, end)`` half-open time-range predicate (executor.go:239-252)
    as one ``filter`` of one ``F.expr``: ``family_predicate`` with no
    series. ``start``/``end`` are INT64 ns or None; another type raises
    ``ValueError``. On a series-family frame (``ts_date`` is a column
    and ``ts_col`` is ``ts``) the ``ts`` check is the evaluated one
    ``fetch`` uses: ``ts`` is not in PushedFilters, the Filter is
    outside whole-stage codegen and each row that reaches the check is
    interpreted. On any other frame the bounds are plain comparisons
    and reach the scan as PushedFilters, its only time skipping."""
    where = family_predicate(dict(df.dtypes), start=start, end=end, ts_col=ts_col)
    return df.filter(F.expr(where)) if where else df


def family_predicate(
    dtypes: dict,
    series=None,
    start: int | None = None,
    end: int | None = None,
    series_col: str = SERIES,
    ts_col: str = TS,
) -> str | None:
    """SQL text of a family scan's one predicate, or None when it has
    nothing to filter: the series (the FetchSeries fan-out, planner.go:
    149-157; ``None`` is every series) ANDed with the half-open
    ``[start, end)`` range. ``dtypes`` are the frame's column types.

    Every value is a quoted literal (``functions.scalar._lit``); the
    INT64-ns bounds are literals of ``ts``'s native dtype (``ts_sql``).
    On a series-family frame (``ts_col`` is ``ts`` and ``ts_date`` is a
    column) the bounds bound ``ts_date``, which Spark prunes partitions
    by: it derives no partition filter from ``ts`` itself. ``ts_date``
    is ``to_date(ts)`` in the writer's session time zone, unknown here,
    so the bound is the UTC date widened by one day each side; every
    zone offset is under a day, so no row in range is dropped. There the
    exact check is ``exists(array(ts), _t -> _t >= lo AND _t < hi)``:
    Spark inlines long literals into whole-stage generated Java, so
    plain comparisons compiled the scan again for every new range,
    while a higher-order function is evaluated and its literals stay
    in the expression object. The price: ``ts`` is not in the scan's
    PushedFilters (the slack days' rows are decoded), the Filter is
    outside whole-stage codegen, and each row that reaches the check
    is interpreted. On any other frame the bounds are plain
    comparisons and reach the parquet scan as PushedFilters.

    ``start``/``end`` are INT64 ns (any ``numbers.Integral``) or None,
    else ``ValueError`` naming the type: a float would compare in double
    precision (256 ns apart at 2024 instants), and a ``datetime`` does
    not compare with an INT64 ``ts`` at all."""
    for name, v in (("start", start), ("end", end)):
        if v is not None and not isinstance(v, numbers.Integral):
            raise ValueError(
                f"time-range {name} must be INT64 nanoseconds or None, "
                f"not {type(v).__name__} ({v!r})"
            )

    def _day(ns: int) -> date:
        return date(1970, 1, 1) + timedelta(days=int(ns) // DAY_NS)

    conds = []
    if series is not None:
        names = [series] if isinstance(series, str) else list(series)
        conds.append(
            f"{_ident(series_col)} IN ({', '.join(map(_lit, names))})" if names else "false"
        )
    ts = _ident(ts_col)
    pruned = ts_col == TS and DATE_COL in dtypes
    t = "_t" if pruned else ts
    check = []
    if start is not None:
        check.append(f"{t} >= {ts_sql(dtypes[ts_col], start)}")
    if end is not None:
        check.append(f"{t} < {ts_sql(dtypes[ts_col], end)}")
    if pruned and check:
        # a lambda's literals stay inside the expression object, so the
        # scan's generated source is the same for every range
        conds.append(f"exists(array({ts}), _t -> {' AND '.join(check)})")
    else:
        conds += check
    if pruned and start is not None:
        conds.append(f"{DATE_COL} >= DATE'{_day(start) - timedelta(days=1)}'")
    if pruned and end is not None:
        conds.append(f"{DATE_COL} <= DATE'{_day(end - 1) + timedelta(days=1)}'")
    return " AND ".join(conds) or None


def _qualified_uri(spark: SparkSession, path: str) -> str | None:
    """``path`` as the URI Spark reads, or None when Spark has no
    filesystem for its scheme (the read then fails on its own)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    except Py4JJavaError:
        return None
    return fs.makeQualified(p).toUri().toString()


def _dir_names(spark: SparkSession, uri: str | None) -> set[str]:
    """Names of the entries directly under ``uri``, from one listing
    (empty when the directory does not exist): pyarrow for a local
    ``file:`` URI, Spark's Hadoop filesystem for any other."""
    if uri is None:
        return set()
    if uri.startswith("file:"):
        fs, root = pafs.FileSystem.from_uri(uri)
        return {i.base_name for i in fs.get_file_info(pafs.FileSelector(root, allow_not_found=True))}
    p = spark._jvm.org.apache.hadoop.fs.Path(uri)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return {st.getPath().getName() for st in fs.listStatus(p)} if fs.exists(p) else set()


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

