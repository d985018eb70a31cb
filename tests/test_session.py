"""BoostSession facade: catalog registration and the parameterized SQL
entry point (replaces the reference's placeholder-literal machinery,
query/base/literalintexpression.go:9-113)."""

import pytest

from boostdb_spark.session import BoostSession
from tests.conftest import SF_DIR


def test_register_and_parameterized_sql(spark):
    bs = BoostSession(spark)
    bs.register_dir(SF_DIR)
    df = bs.sql(
        "SELECT count(*) AS n FROM events WHERE event_type = :etype AND value < :vmax",
        etype="click",
        vmax=100.0,
    )
    [row] = df.collect()
    want = (
        bs.table("events")
        .filter("event_type = 'click' AND value < 100.0")
        .count()
    )
    assert row["n"] == want > 0


def test_register_parquet_single(spark, tmp_path):
    bs = BoostSession(spark)
    src = spark.range(5).toDF("k")
    p = str(tmp_path / "t")
    src.write.parquet(p)
    bs.register_parquet("tiny", p)
    assert bs.sql("SELECT count(*) AS n FROM tiny").collect()[0]["n"] == 5


def test_ts_helpers_zone_independent(spark):
    """ts_ns / ts_lit on TIMESTAMP_NTZ must not shift with the session
    time zone (ADVICE r1: a cast to TIMESTAMP applies the zone)."""
    from boostdb_spark.functions.scalar import ts_lit, ts_ns

    df = spark.sql("SELECT TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts")
    expect_ns = 1_704_067_200 * 10**9
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        results = {}
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            ns = df.select(ts_ns(df, "ts").alias("ns")).collect()[0]["ns"]
            hit = df.filter(df.ts == ts_lit(df, expect_ns)).count()
            results[tz] = (ns, hit)
        assert all(v == (expect_ns, 1) for v in results.values()), results
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_ns_to_micros_is_exact_int64(spark):
    """ns_to_micros divides as integers: a BIGINT, exact for ns beyond
    2^53 and truncated toward zero for negative ns."""
    from boostdb_spark.functions import ns_to_micros

    df = spark.createDataFrame(
        [(1_705_708_800_123_456_789,), (-1_705_708_800_123_456_789,)],
        "ts long",
    )
    out = df.select(ns_to_micros("ts").alias("us"))
    assert dict(out.dtypes)["us"] == "bigint"
    assert [r["us"] for r in out.collect()] == [
        1_705_708_800_123_456, -1_705_708_800_123_456,
    ]


def test_engine_session_skips_dataframe_origin_capture(spark):
    """get_spark turns PySpark's DataFrame debugging off (each Column call
    is then one py4j round trip, not about five); a runtime error still
    carries its condition."""
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(ArithmeticException) as err:
            spark.range(1).select(F.lit(1) / F.col("id")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"


def test_driver_entry_sets_runtime_keys_from_the_engine_defaults(spark):
    """__spark_entry__ sets on the driver's session only keys a running
    session accepts, each to its session._DEFAULTS value."""
    import __spark_entry__ as entry
    from boostdb_spark.session import _DEFAULTS

    assert all(spark.conf.isModifiable(k) for k in entry.RUNTIME_KEYS)
    entry._ensure_conf(spark)
    assert {k: spark.conf.get(k) for k in entry.RUNTIME_KEYS} == {
        k: _DEFAULTS[k] for k in entry.RUNTIME_KEYS
    }


def test_gc_stale_layouts_and_touch(tmp_path):
    """mtime-gated GC: fresh dirs survive, stale dirs go, and
    touch_layout refreshes a dir's clock so a long-lived session's
    active layout never ages past another session's cutoff."""
    import os
    import time

    from boostdb_spark.suite import gc_stale_layouts, touch_layout

    wh = str(tmp_path)
    stale = os.path.join(wh, "suite_x_old")
    fresh = os.path.join(wh, "suite_x_new")
    kept = os.path.join(wh, "suite_x_active")
    for p in (stale, fresh, kept):
        os.makedirs(p)
    old = time.time() - 7 * 3600
    os.utime(stale, (old, old))
    os.utime(kept, (old, old))
    touch_layout(kept)  # simulates a read refreshing the heartbeat
    gc_stale_layouts(wh, "suite_x_")
    assert not os.path.exists(stale)
    assert os.path.exists(fresh) and os.path.exists(kept)


def test_layout_ready_rebuilds_after_racing_gc(tmp_path):
    """Write-once layout guards re-check the dir on disk: a layout a
    concurrent session's GC deleted between heartbeat and read is
    rebuilt on the next invocation instead of failing forever
    (ADVICE r5 — the residual race consumers must absorb)."""
    import os
    import shutil

    from boostdb_spark.suite import layout_ready

    written: set = set()
    key = ("app", "sf")
    a = os.path.join(str(tmp_path), "a")
    b = os.path.join(str(tmp_path), "b")
    os.makedirs(a)
    os.makedirs(b)
    assert not layout_ready(written, key, a, b)  # never written
    written.add(key)
    assert layout_ready(written, key, a, b)
    shutil.rmtree(b)  # racing GC took one backing dir
    assert not layout_ready(written, key, a, b)  # -> guard rebuilds
