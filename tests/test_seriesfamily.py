"""Series-family storage layer: the programmatic write/fetch path
(reference: client/m3dbseriesfamily.go Write/Fetch + merge iterator)."""

import pytest
from pyspark.sql import functions as F

from boostdb_spark.sources import SeriesFamily
from boostdb_spark.sources.seriesfamily import DAY_NS
from tests.conftest import SF_DIR


@pytest.fixture
def family(spark, tmp_path):
    return SeriesFamily(spark, "bTestDomain", "bTestSF", str(tmp_path))


def test_session_series_family_handle(spark, tmp_path):
    """BoostSession.series_family: the NewM3DBSeriesFamily analog —
    session-rooted handle that writes and fetches."""
    from boostdb_spark.session import BoostSession

    bs = BoostSession(spark, storage_root=str(tmp_path))
    fam = bs.series_family("bTestDomain", "bTestSF")
    fam.write(_fixture_df(spark))
    assert fam.fetch("cpu_utilization").count() == 10
    assert fam.qualified_name == "bTestDomain.bTestSF"


def _fixture_df(spark):
    # the reference e2e fixture: 10 points of cpu_utilization with tags
    # dc/env and per-point host attribute (executor_test.go:127-177)
    rows = [
        (
            "cpu_utilization",
            1_704_067_200_000_000_000 + i * 1_000_000_000,
            float(i + 1),
            "dc1",
            "test",
            f"host-{i:07d}",
        )
        for i in range(10)
    ]
    return spark.createDataFrame(
        rows, "series string, ts long, value double, dc string, env string, host string"
    )


def test_write_fetch_roundtrip(spark, family):
    family.write(_fixture_df(spark))
    out = family.fetch("cpu_utilization").collect()
    assert len(out) == 10
    # ordered by ts within series (merge-iterator contract,
    # boostseriesiterator.go:301-343)
    ts = [r.ts for r in out]
    assert ts == sorted(ts)
    assert [r.value for r in out] == [float(i + 1) for i in range(10)]
    assert out[0].host == "host-0000000"


def test_fetch_time_range_half_open(spark, family):
    family.write(_fixture_df(spark))
    t0 = 1_704_067_200_000_000_000
    out = family.fetch(
        "cpu_utilization", start=t0 + 2_000_000_000, end=t0 + 5_000_000_000
    ).collect()
    assert [r.value for r in out] == [3.0, 4.0, 5.0]  # [start, end) — i in [2,5)


def test_schema_evolution_on_append(spark, family, tmp_path):
    """Attributes appear on first write (symtable dynamic creation,
    core/symtable.go:288-321) -> mergeSchema on read. A handle that has
    already read (and memoized the merged schema) must still see a
    column appended through ANOTHER handle: a changed file set re-runs
    the merge."""
    family.write(_fixture_df(spark))
    assert "zone" not in family.read().columns
    other = SeriesFamily(spark, "bTestDomain", "bTestSF", str(tmp_path))
    extra = spark.createDataFrame(
        [("mem_utilization", 1_704_067_200_000_000_000, 42.0, "zone-a")],
        "series string, ts long, value double, zone string",
    )
    other.write(extra)
    df = family.read()
    assert "zone" in df.columns and "host" in df.columns
    assert df.count() == 11


def test_read_reuses_merged_schema_while_files_unchanged(spark, family):
    """The memo hit: with the file set unchanged since the last merge,
    read() reuses the merged schema and runs no Spark job at all (the
    mergeSchema footer job runs once per file set)."""
    family.write(_fixture_df(spark))
    first = family.read()  # merges, memoizes
    sc = spark.sparkContext
    group = "seriesfamily-memo-hit"
    sc.setJobGroup(group, "read() with an unchanged file set")
    try:
        again = family.read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


class _NoSpark:
    """A session stand-in that fails on any use."""

    def __getattr__(self, name):
        raise AssertionError(f"read() used the Spark session ({name})")


def test_read_returns_the_held_relation_without_spark_calls(spark, family):
    """With no change to the family's files, read() returns the very
    DataFrame it holds and makes no Spark call at all: the file-set
    check is a pyarrow listing."""
    family.write(_fixture_df(spark))
    held = family.read()
    session, family.spark = family.spark, _NoSpark()
    try:
        assert family.read() is held
        assert family.read() is held
    finally:
        family.spark = session
    assert held.count() == 10


def _later(spark):
    """The fixture's 10 points one day later."""
    return _fixture_df(spark).withColumn("ts", F.col("ts") + DAY_NS)


def _drain(spark, fam, landing, ckpt):
    """Append ``landing``'s new files to ``fam`` through stream_write."""
    from boostdb_spark.streaming import stream_write

    sdf = spark.readStream.schema(spark.read.parquet(landing).schema).parquet(landing)
    stream_write(fam, sdf, checkpoint=ckpt).awaitTermination(120)


def _append_other(spark, family, other, tmp_path):
    family.write(_fixture_df(spark))
    yield 10
    other.write(_later(spark))
    yield 20


def _compact_other(spark, family, other, tmp_path):
    family.write(_fixture_df(spark))
    family.write(_later(spark))
    yield 20
    other.compact()  # deletes every file the first handle's relation read
    yield 20


def _stream_drain(spark, family, other, tmp_path):
    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    _fixture_df(spark).write.parquet(landing)
    _drain(spark, family, landing, ckpt)
    yield 10
    _later(spark).write.mode("append").parquet(landing)
    _drain(spark, family, landing, ckpt)
    yield 20


def _delete_day(spark, family, other, tmp_path):
    import shutil

    family.write(_fixture_df(spark).unionByName(_later(spark)))
    yield 20
    shutil.rmtree(f"{family.path}/ts_date=2024-01-02")
    yield 10


@pytest.mark.parametrize(
    "change", [_append_other, _compact_other, _stream_drain, _delete_day],
    ids=["append_other_handle", "compact_other_handle", "stream_drain", "delete_day"],
)
def test_held_relation_follows_every_file_change(spark, family, tmp_path, change):
    """A change to the family's files made anywhere (another handle's
    append or compaction, a stream_write drain, a deleted ts_date
    directory) is visible at the next fetch through the first handle."""
    other = SeriesFamily(spark, "bTestDomain", "bTestSF", str(tmp_path))
    steps = change(spark, family, other, tmp_path)
    before = next(steps)
    assert family.fetch().count() == before
    held = family.read()
    after = next(steps)
    assert family.read() is not held
    assert family.fetch().count() == after


def test_spark_listing_keys_paths_pyarrow_does_not_list(spark, family, tmp_path, monkeypatch):
    """Where the pyarrow listing is unavailable (a non-local URI), the
    file-set key is Spark's own listing: another handle's append is
    still visible, and an unchanged family still returns the held
    relation."""
    from boostdb_spark.sources import seriesfamily

    monkeypatch.setattr(seriesfamily, "_file_set", lambda uri: None)
    family.write(_fixture_df(spark))
    held = family.read()
    assert family.read() is held
    SeriesFamily(spark, "bTestDomain", "bTestSF", str(tmp_path)).write(_later(spark))
    assert family.fetch().count() == 20


@pytest.mark.parametrize("listing", ["pyarrow", "spark"])
def test_family_without_data_files_raises_named_error(spark, family, monkeypatch, listing):
    """Input contract: a family with no data files, never written or
    written only an empty frame (the directory then holds _SUCCESS
    alone), raises a ValueError naming it instead of Spark's
    PATH_NOT_FOUND or UNABLE_TO_INFER_SCHEMA."""
    from boostdb_spark.sources import seriesfamily

    if listing == "spark":
        monkeypatch.setattr(seriesfamily, "_file_set", lambda uri: None)
    with pytest.raises(ValueError, match=r"bTestDomain\.bTestSF has no data files"):
        family.read()
    family.write(_fixture_df(spark).limit(0))
    with pytest.raises(ValueError, match=r"bTestDomain\.bTestSF has no data files"):
        family.fetch("cpu_utilization")
    family.write(_fixture_df(spark))
    assert family.fetch("cpu_utilization").count() == 10


@pytest.mark.parametrize("listing", ["pyarrow", "spark"])
def test_stream_family_with_only_uncommitted_files_raises_named_error(
    spark, family, monkeypatch, listing
):
    """A stream-sink family is read through its ``_spark_metadata`` log,
    so part files no batch has committed (a first micro-batch still
    running, or one that failed) are not data files: the read raises
    the named ValueError too."""
    import os

    from boostdb_spark.sources import seriesfamily

    if listing == "spark":
        monkeypatch.setattr(seriesfamily, "_file_set", lambda uri: None)
    _fixture_df(spark).write.parquet(family.path)
    os.remove(f"{family.path}/_SUCCESS")
    os.makedirs(f"{family.path}/_spark_metadata")
    with pytest.raises(ValueError, match=r"bTestDomain\.bTestSF has no data files"):
        family.read()


def _plan_text(df):
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _scanned_files(df) -> list[str]:
    """The files df's parquet scans actually open, after partition
    pruning. (``DataFrame.inputFiles()`` lists the whole unpruned file
    index of a path-based read, so it cannot show pruning.)"""
    conv = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters
    plan = df._jdf.queryExecution().sparkPlan()
    return [
        f.filePath().toString()
        for leaf in conv.asJava(plan.collectLeaves())
        for part in conv.asJava(leaf.inputRDD().filePartitions())
        for f in part.files()
    ]


def test_partitioned_layout_prunes(spark, family):
    """Date partitioning must actually prune: a one-day fetch carries a
    ts_date partition filter and opens only files under that day +- 1
    (the writer-zone slack), never the far day's partition."""
    df = _fixture_df(spark)
    # spread across two days four days apart
    df2 = df.withColumn(
        "ts",
        F.when(F.col("value") > 5.0, F.col("ts") + F.lit(4 * DAY_NS)).otherwise(
            F.col("ts")
        ),
    )
    family.write(df2)
    pruned = family.fetch(
        "cpu_utilization",
        start=1_704_067_200_000_000_000,
        end=1_704_067_200_000_000_000 + DAY_NS,
    )
    assert pruned.count() == 5
    pf = [ln for ln in _plan_text(pruned).splitlines() if "PartitionFilters" in ln]
    assert pf and all("ts_date" in ln for ln in pf), pf
    files = _scanned_files(pruned)
    allowed = ("ts_date=2023-12-31/", "ts_date=2024-01-01/", "ts_date=2024-01-02/")
    assert files and all(any(d in f for d in allowed) for f in files), files


def test_partition_bound_slack_covers_every_writer_zone(spark, family):
    """ts_date is to_date(ts) in the WRITER's session zone. Rows written
    under +14 h (Pacific/Kiritimati) and -11 h (Pacific/Pago_Pago) and
    fetched under UTC with bounds on and one ns beside midnight must be
    exactly the rows a ts-only filter keeps."""
    t_mid = 1_704_240_000_000_000_000  # 2024-01-03 00:00 UTC
    step = 1_800 * 10**9  # every 30 min over five days around t_mid
    grid = [t_mid + k * step for k in range(-96, 145)]
    edges = [t_mid + d * DAY_NS + o for d in range(-1, 3) for o in (-1_000, 1_000)]
    conf = "spark.sql.session.timeZone"
    prev = spark.conf.get(conf)
    try:
        for zone, series in (("Pacific/Kiritimati", "kir"), ("Pacific/Pago_Pago", "ppg")):
            spark.conf.set(conf, zone)
            family.write(spark.createDataFrame(
                [(series, t, float(i)) for i, t in enumerate(grid + edges)],
                "series string, ts long, value double",
            ))
        spark.conf.set(conf, "UTC")
        stored = family.read()
        # the zones really move rows across UTC midnight in both directions
        shift = stored.select(
            "series",
            F.datediff("ts_date", F.to_date(F.timestamp_micros(F.expr("ts div 1000")))).alias("d"),
        ).distinct().collect()
        assert {(r.series, r.d) for r in shift} >= {("kir", 1), ("ppg", -1)}
        checked = 0
        for start in (t_mid - 1, t_mid, t_mid + 1):
            for end in (t_mid + DAY_NS - 1, t_mid + DAY_NS, t_mid + DAY_NS + 1,
                        t_mid + 13 * 3_600 * 10**9):
                got = family.fetch(start=start, end=end, ordered=False)
                want = stored.filter((F.col("ts") >= start) & (F.col("ts") < end))
                rows = sorted(got.select("series", "ts", "value").collect())
                assert rows == sorted(want.select("series", "ts", "value").collect())
                checked += len(rows)
        assert checked
    finally:
        spark.conf.set(conf, prev)


def _files_by_date(path):
    """{ts_date value: [parquet file paths]} of a family directory."""
    import os

    out = {}
    for d in sorted(os.listdir(path)):
        if d.startswith("ts_date="):
            out[d.split("=", 1)[1]] = sorted(
                os.path.join(path, d, f)
                for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            )
    return out


@pytest.mark.parametrize("dtype", ["bigint", "timestamp", "timestamp_ntz"])
def test_time_range_is_half_open_in_every_ts_dtype(spark, tmp_path, dtype):
    """The SQL-text bounds keep [start, end) exact for ns-long, TIMESTAMP
    and TIMESTAMP_NTZ ``ts`` under a non-UTC session zone, with ns bounds
    off the µs grid, and still reach the scan: the ts bounds as
    PushedFilters, the ts_date bounds as PartitionFilters."""
    from boostdb_spark.sources.seriesfamily import apply_time_range

    t_mid = 1_704_240_000_000_000_000  # 2024-01-03 00:00 UTC
    grid = [t_mid + k * 1_800 * 10**9 for k in range(-96, 145)]
    grid += [t_mid + d * DAY_NS + o for d in (0, 1) for o in (-1_000, 0, 1_000)]
    ts = {
        "bigint": "n",
        "timestamp": "timestamp_micros(n div 1000)",
        "timestamp_ntz": "CAST(timestamp_micros(n div 1000) AS TIMESTAMP_NTZ)",
    }[dtype]
    path = str(tmp_path / "range")
    (spark.createDataFrame([(n,) for n in grid], "n long")
        .selectExpr("n", f"{ts} AS ts", "to_date(timestamp_micros(n div 1000)) AS ts_date")
        .write.partitionBy("ts_date").parquet(path))
    conf = "spark.sql.session.timeZone"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "America/New_York")
        df = spark.read.parquet(path)
        assert dict(df.dtypes)["ts"] == dtype
        for start, end in ((t_mid + 1, t_mid + DAY_NS + 1), (t_mid - 1, t_mid + DAY_NS - 1)):
            got = apply_time_range(df, start, end)
            assert sorted(r.n for r in got.collect()) == [n for n in sorted(grid) if start <= n < end]
            plan = _plan_text(got)
            assert "GreaterThanOrEqual(ts," in plan and "LessThan(ts," in plan, plan
            pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
            assert pf and all("ts_date" in ln for ln in pf), pf
    finally:
        spark.conf.set(conf, prev)


@pytest.mark.parametrize("name", ["event time", "t`s"])
def test_time_range_quotes_the_ts_column(spark, name):
    """A ts column whose name needs backticks in SQL text."""
    from boostdb_spark.sources.seriesfamily import apply_time_range

    df = spark.range(10).toDF(name)
    assert sorted(r[0] for r in apply_time_range(df, 3, 7, ts_col=name).collect()) == [3, 4, 5, 6]


def test_warm_ranged_fetch_makes_few_py4j_round_trips(spark, family):
    """A warm one-series ranged fetch on a held family builds its
    predicate in a handful of gateway round trips: the series Column,
    one F.expr for every time bound, one AND and one filter. A Column
    call per bound made 41, and PySpark's DataFrame debugging on top of
    that 181."""
    family.write(_fixture_df(spark))
    start = 1_704_067_200_000_000_000

    def fetch():
        return family.fetch("cpu_utilization", start, start + DAY_NS, ordered=False)

    fetch()
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []
    client.send_command = lambda *a, **k: calls.append(a) or send(*a, **k)
    try:
        df = fetch()
    finally:
        del client.send_command
    assert len(calls) <= 12, calls
    assert df.count() == 10


def test_compact_collapses_small_files(spark, tmp_path):
    """Streaming-style many-small-file ingest, then compaction: the
    targeted date collapses to one file per day, rows and their
    in-file (series, ts) clustering are preserved, and untouched date
    partitions keep their files."""
    from pyspark.sql import functions as F

    from boostdb_spark.sources.seriesfamily import SeriesFamily

    fam = SeriesFamily(spark, "test", "compactme", str(tmp_path / "fams"))
    src = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select(
            F.col("event_type").alias("series"),
            "ts",
            "value",
        )
    )
    # simulate micro-batch ingest: 6 tiny appends
    for i in range(6):
        fam.write(src.filter(F.pmod(F.hash("ts"), F.lit(6)) == i))

    def files_per_date():
        return {d: len(files) for d, files in _files_by_date(fam.path).items()}

    before = files_per_date()
    assert before and max(before.values()) > 1
    target = sorted(before)[0]
    n_before = fam.read().count()

    fam.compact(files_per_day=1, dates=[target])

    after = files_per_date()
    assert after[target] == 1
    for d, n in before.items():
        if d != target:
            assert after[d] == n  # untouched partitions not rewritten
    assert fam.read().count() == n_before
    # compacted rows keep (series, ts) order within the file
    import pandas as pd  # noqa: F401
    part = spark.read.parquet(fam.path + f"/ts_date={target}").toPandas()
    assert list(part.sort_values(["series", "ts"]).index) == list(part.index) or len(part) <= 1


def _assert_files_sorted(files):
    import pyarrow.parquet as pq

    for f in files:
        t = pq.read_table(f, columns=["series", "ts"]).to_pydict()
        keys = list(zip(t["series"], t["ts"]))
        assert keys == sorted(keys), f


def _day_frame(spark, n_rows, n_days, n_parts):
    """n_rows points of 16 series spread evenly over n_days days."""
    t0 = 1_704_067_200 * 10**9
    step = n_days * DAY_NS // n_rows
    return (
        spark.range(0, n_rows, 1, n_parts)
        .select(
            F.concat(F.lit("s"), (F.col("id") * 7919 % 16).cast("string")).alias("series"),
            (F.lit(t0) + F.col("id") * step).alias("ts"),
            (F.col("id") % 1024 / 1024.0).alias("value"),
        )
    )


def test_write_sizes_files_by_day_volume(spark, family):
    """A small day is written as ONE file whatever the number of input
    partitions or series, and every file is sorted by (series, ts)."""
    src = _day_frame(spark, 6000, n_days=3, n_parts=4)
    family.write(src)
    files = _files_by_date(family.path)
    assert len(files) == 3
    assert all(len(v) == 1 for v in files.values()), files
    _assert_files_sorted([f for v in files.values() for f in v])
    assert family.read().count() == 6000


def test_write_splits_a_day_above_the_advisory_size(spark, family):
    """A day bigger than the AQE advisory partition size is split into
    several files; every row comes back and each file stays sorted."""
    conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "256k")
    try:
        src = _day_frame(spark, 400_000, n_days=1, n_parts=4)
        family.write(src)
    finally:
        spark.conf.set(conf, prev)
    files = _files_by_date(family.path)
    assert max(len(v) for v in files.values()) > 1, files
    _assert_files_sorted([f for v in files.values() for f in v])
    back = family.read().select("series", "ts", "value")
    assert back.count() == 400_000
    assert back.exceptAll(src).count() == 0


def test_registered_view_follows_writes_and_compaction(spark, family):
    """A view registered through a handle sees that handle's later
    appends, and still reads after a compaction replaced its files."""
    from boostdb_spark.plans import sugar

    family.write(_fixture_df(spark))
    family.register()
    later = _fixture_df(spark).withColumn("ts", F.col("ts") + DAY_NS)
    family.write(later)
    assert family.read().count() == 20
    assert spark.table(family.view_name).count() == 20

    family.compact()
    binding = sugar.SeriesFamilyBinding(view=family.view_name)
    sql = "SELECT cpu_utilization.host, cpu_utilization FROM d.f WHERE cpu_utilization > 0"
    rows = sugar.query(spark, sql, binding).collect()
    assert len(rows) == 20
