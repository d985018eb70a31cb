"""BoostSession — the engine's session entry point.

Replaces the reference's ``BoostSession`` (client/boostsession.go:94-184),
which wraps an M3DB session with symbol-table maintenance and async writes.
On Spark, all of that collapses into a configured ``SparkSession`` plus a
catalog of registered series-family tables; reads/writes are DataFrames.

Scale posture (100 TB / 1000 executors):
- AQE on: runtime coalescing, skew-join splitting, join-strategy switch.
- Broadcast threshold tuned up so dimension tables (region/nation/...)
  never shuffle.
- ``nanosAsLong`` so ns-native event streams (the reference is ns-native,
  core/seriesfamily.go:23) read losslessly as INT64 ns.
- Session TZ pinned UTC so results are reproducible across clusters.

Driver-side cost: PySpark's DataFrame debugging is off, so building a
Column is one py4j round trip rather than about five (see ``_DEFAULTS``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Tables the driver materializes at each scale factor (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_DEFAULTS = {
    # Reproducibility / oracle comparison
    "spark.sql.session.timeZone": "UTC",
    # The events fixture is TIMESTAMP(NANOS) parquet; read as INT64 ns
    # (lossless; reference is ns-native, core/seriesfamily.go:23)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Scale posture: AQE handles runtime re-planning, skew, coalescing
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast posture (round 12, the sf10 probe's lesson): STATIC
    # estimate-based broadcasts are OFF — Catalyst's size estimate does
    # not grow through explode/generate, so a shingle/band/token table
    # exploded from a small parquet scan stays "broadcastable" at every
    # corpus size whose SCAN FILE is under the threshold (sf10:
    # dedup_minhash_lsh built a 500k-doc banded hashed relation on an
    # 8g driver and died). Instead, AQE converts sort-merge joins to
    # broadcast AT RUNTIME from ACTUAL post-shuffle sizes — the same
    # fast plans wherever the data genuinely fits, and a plan that
    # cannot OOM from a wrong estimate at any scale. Explicit
    # F.broadcast() hints on bounded-by-construction sides (dimension
    # tables, centroid tables, reference sets, single-row stats) are
    # unaffected by the static -1.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # Shuffle sizing at any scale (round 12, sf10 catch #4): a FIXED
    # shuffle.partitions means per-task sort/hash state grows linearly
    # with the corpus — the sf10 minhash verify join pushed ~190M rows
    # through each of 32 sort tasks and external-sort merge passes went
    # super-linear (33x wall at 10x rows; the candidate count itself
    # grew 9.0x = linear). The canonical posture: HIGH initial
    # partition count + AQE coalescing — small data coalesces back to
    # few right-sized partitions (measured: sf0.1 entries flat or
    # faster), big data keeps per-task state bounded (sf10 minhash
    # 726 -> 234 s, 33x -> 10.9x). shuffle.partitions stays the
    # AQE-off fallback.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    # Arrow for any pandas interchange (vectorized UDF path)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # Long-lived sessions: the context cleaner only frees shuffle files,
    # broadcasts, and checkpointed RDDs when the JVM GCs their
    # references; with a large heap that can take the default 30min.
    # 5min keeps hundreds-of-queries sessions from accumulating state.
    "spark.cleaner.periodicGC.interval": "5min",
    # PySpark 4.1 wraps every F.* function and Column method in
    # _with_origin, which records the Python call site for error
    # messages: getActiveSession, a PySparkCurrentOrigin class lookup,
    # a conf read, a set and a clear, all py4j round trips on top of the
    # call itself. Off, a warm round of perfbench's seven tsdb_query
    # operations makes about 1,340 gateway round trips instead of about
    # 3,200, and a warm one-series ranged fetch 41 instead of 181. An
    # error then loses only the Python call-site fragment of its query
    # context; the error class and message stay.
    # PySpark reads the key once per process, at the first Column call,
    # so it must be in the session before engine code builds a Column.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "boostdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS``
    (driver contract) so the same code runs under tests, bench, and the
    driver's verify without edits. On a real cluster, pass ``master=None``
    and let spark-submit decide.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.driver.memory"] = os.environ.get("BOOST_DRIVER_MEM", "8g")
    conf["spark.ui.enabled"] = "false"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class BoostSession:
    """Session facade: SparkSession + a catalog of series-family tables.

    Mirrors the *role* of the reference's session+family handles
    (client/m3dbseriesfamily.go:17-50): resolve ``domain.family`` names to
    scannable tables and give programmatic read/write entry points. The
    M3DB-specific machinery (shard fan-out m3dbseriesfamily.go:188-222,
    symbol tables core/symtable.go:28-55) has no Spark analog by design.
    """

    def __init__(self, spark: SparkSession | None = None, storage_root: str = "/tmp/boostdb"):
        self.spark = spark or get_spark()
        self.storage_root = storage_root
        self._registered: dict[str, str] = {}

    def series_family(self, domain: str, family: str):
        """Get a series-family handle under this session's storage root —
        the ``NewM3DBSeriesFamily`` analog (client/m3dbseriesfamily.go:
        17-50): resolve ``domain.family`` to a writable/fetchable table.
        """
        from boostdb_spark.sources.seriesfamily import SeriesFamily

        return SeriesFamily(self.spark, domain, family, self.storage_root)

    # ---------------------------------------------------------------- catalog
    def register_parquet(self, name: str, path: str) -> DataFrame:
        """Register a parquet file/dir as a temp view usable from SQL.

        The analog of the planner's alias/source resolution
        (query/executor/planner.go:122-157): after registration,
        ``spark.sql("SELECT ... FROM name")`` works.
        """
        df = self.spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        self._registered[name] = path
        return df

    def register_dir(self, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES) -> None:
        """Register every driver-provided table under ``sf_dir``."""
        for t in tables:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.register_parquet(t, p)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def sql(self, query: str, **kwargs) -> DataFrame:
        """SQL entry point (parameterized; replaces the reference's
        placeholder literals, query/base/literalintexpression.go:9-113)."""
        if kwargs:
            return self.spark.sql(query, args=kwargs)
        return self.spark.sql(query)


# Memoized per (session, dir): every suite query calls load_tables, and
# re-reading ~10 parquet footers + re-registering views costs >1s of
# driver time per call — pure fixed overhead that would dominate a
# 50-query benchmark. Temp views are session-scoped and the testdata is
# immutable, so one registration per session+dir is sound; if a DIFFERENT
# dir is loaded into the same session, the shared view names must be
# re-pointed, hence the active-dir check.
_TABLE_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}
_ACTIVE_DIR: dict[int, tuple[SparkSession, str]] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all driver tables from ``sf_dir`` and register them as views.

    Convenience used by ``__spark_entry__.queries()`` callables.
    Memoized: repeat calls with the same session+dir are free.
    """
    sf_dir = os.path.abspath(sf_dir)
    skey = id(spark)
    key = (skey, sf_dir)
    active = _ACTIVE_DIR.get(skey)
    # The strong session ref in _ACTIVE_DIR keeps id(spark) from being
    # reused by a new session at the same address.
    if key in _TABLE_CACHE and active is not None and active[1] == sf_dir:
        return dict(_TABLE_CACHE[key])
    out: dict[str, DataFrame] = {}
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            df = _TABLE_CACHE.get(key, {}).get(t) or spark.read.parquet(p)
            df.createOrReplaceTempView(t)
            out[t] = df
    _TABLE_CACHE[key] = out
    _ACTIVE_DIR[skey] = (spark, sf_dir)
    return dict(out)
