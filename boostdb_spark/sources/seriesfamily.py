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

Parquet files are immutable once written (Spark writers only add files
under fresh names and delete whole files), so a file set determines its
merged schema; ``SeriesFamily.read`` relies on that to run the
``mergeSchema`` footer job once per file set instead of once per read.
"""

from __future__ import annotations

import numbers
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: canonical column names (FIXTURES.md section 1)
TS = "ts"
SERIES = "series"
VALUE = "value"
DATE_COL = "ts_date"

DAY_NS = 86_400_000_000_000


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
        #: (input files, merged schema) of the last ``mergeSchema`` read
        self._schema_memo: tuple[frozenset, StructType] | None = None
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

        The merge is a Spark job over all file footers. Parquet files are
        never changed once written, so the merged schema is a function of
        the file set: a read whose listing equals the file set of the
        last merge reuses that schema and runs no job. Any other listing
        (an append, a compaction, a delete, a write through another
        handle or a stream) runs the full merge again and refreshes the
        memo."""
        if self._schema_memo is not None:
            files, schema = self._schema_memo
            df = self.spark.read.schema(schema).parquet(self.path)
            if frozenset(df.inputFiles()) == files:
                return df
        df = self.spark.read.option("mergeSchema", "true").parquet(self.path)
        self._schema_memo = (frozenset(df.inputFiles()), df.schema)
        return df

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
        is an explicit predicate here. INT64-ns bounds prune ``ts_date``
        partitions to ``[date(start) - 1 day, date(end - 1 ns) + 1 day]``
        (the slack covers any writer time zone, see ``apply_time_range``)
        and reach the parquet scan as PushedFilters for row-group
        skipping.
        """
        df = self.read()
        if series is not None:
            if isinstance(series, str):
                df = df.filter(F.col(SERIES) == series)
            else:
                df = df.filter(F.col(SERIES).isin(series))
        df = apply_time_range(df, start, end)
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


def apply_time_range(df: DataFrame, start=None, end=None, ts_col: str = TS) -> DataFrame:
    """``[start, end)`` half-open time-range predicate (executor.go:239-252).

    Works for TimestampType and INT64-ns ``ts`` columns alike; INT64-ns
    bounds against a timestamp column are converted literal-side so the
    predicate still reaches the parquet scan as PushedFilters.

    On a series-family frame (``ts_col`` is ``ts`` and the frame carries
    the ``ts_date`` partition column) an INT64-ns bound also bounds
    ``ts_date``, which Spark prunes partitions by: it derives no
    partition filter from ``ts`` itself. ``ts_date`` is ``to_date(ts)``
    in the writer's session time zone, unknown here, so the bound is
    the UTC date widened by one day each side; every zone offset is
    under a day, so no row in range is dropped. Other bounds filter
    ``ts`` only.
    """

    def _lit(v):
        if isinstance(v, numbers.Integral):
            from boostdb_spark.functions.scalar import ts_lit

            return ts_lit(df, v, col=ts_col)
        return F.lit(v)

    def _day(ns: int) -> date:
        return date(1970, 1, 1) + timedelta(days=int(ns) // DAY_NS)

    pruned = ts_col == TS and DATE_COL in df.columns
    if start is not None:
        df = df.filter(F.col(ts_col) >= _lit(start))
        if pruned and isinstance(start, numbers.Integral):
            df = df.filter(F.col(DATE_COL) >= F.lit(_day(start) - timedelta(days=1)))
    if end is not None:
        df = df.filter(F.col(ts_col) < _lit(end))
        if pruned and isinstance(end, numbers.Integral):
            df = df.filter(F.col(DATE_COL) <= F.lit(_day(end - 1) + timedelta(days=1)))
    return df
