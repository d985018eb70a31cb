"""Unit tests for time-series operators beyond the oracle suite:
edge cases (empty series, tolerance, forward direction) and plan-shape
assertions (broadcast-free asof, no cartesian products)."""

from pyspark.sql import functions as F

from boostdb_spark.operators import timeseries as ts_ops


def _events(spark, rows):
    return spark.createDataFrame(rows, "key string, ts long, value double")


def test_asof_backward_basic(spark):
    left = _events(spark, [("a", 100, 1.0), ("a", 200, 2.0), ("b", 50, 9.0)])
    right = _events(spark, [("a", 90, 10.0), ("a", 150, 20.0), ("c", 1, 0.0)])
    out = ts_ops.asof_join(left, right, on=["key"]).orderBy("key", "ts").collect()
    assert [(r.key, r.ts, r.value_right) for r in out] == [
        ("a", 100, 10.0),
        ("a", 200, 20.0),
        ("b", 50, None),  # no right rows for key b -> left preserved
    ]


def test_asof_tie_matches_equal_ts(spark):
    left = _events(spark, [("a", 100, 1.0)])
    right = _events(spark, [("a", 100, 42.0)])
    out = ts_ops.asof_join(left, right, on=["key"]).collect()
    assert out[0].value_right == 42.0  # r.ts <= l.ts includes equality


def test_asof_forward(spark):
    left = _events(spark, [("a", 100, 1.0)])
    right = _events(spark, [("a", 90, 5.0), ("a", 120, 7.0)])
    out = ts_ops.asof_join(left, right, on=["key"], direction="forward").collect()
    assert out[0].value_right == 7.0


def test_asof_tolerance(spark):
    left = _events(spark, [("a", 1000, 1.0), ("a", 5000, 2.0)])
    right = _events(spark, [("a", 900, 5.0)])
    out = (
        ts_ops.asof_join(left, right, on=["key"], tolerance_ns=200)
        .orderBy("ts")
        .collect()
    )
    assert out[0].value_right == 5.0  # gap 100 <= 200
    assert out[1].value_right is None  # gap 4100 > 200 -> nulled


def test_asof_null_payload_comes_from_matched_row(spark):
    """The matched right row's NULL payload must surface as NULL — not
    be stitched from an OLDER right row (per-column LOCF bug): the
    right side travels as one struct so the whole matched row is the
    unit of carry-forward."""
    left = spark.createDataFrame(
        [("a", 200, 1.0)], "key string, ts long, value double"
    )
    right = spark.createDataFrame(
        [("a", 90, 10.0, "old"), ("a", 150, None, "new")],
        "key string, ts long, rv double, tag string",
    )
    out = ts_ops.asof_join(left, right, on=["key"]).collect()
    assert out[0].tag == "new"  # latest right row matched...
    assert out[0].rv is None  # ...and its NULL stays NULL
    assert out[0].ts_right == 150


def test_asof_plan_has_single_shuffle_no_join(spark):
    """asof is union+window: the plan must contain no Join node at all
    and exactly one exchange on the key — the 100 TB-scale property."""
    left = _events(spark, [("a", 100, 1.0)])
    right = _events(spark, [("a", 90, 5.0)])
    plan = (
        ts_ops.asof_join(left, right, on=["key"])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Join" not in plan


def test_gap_fill_null_and_zero(spark):
    res = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 30_000_000_000, 4.0)],
        "key string, bucket long, value double",
    )
    filled = ts_ops.gap_fill(
        res, bucket_seconds=10, value_col="value", series_cols=("key",), fill="null"
    ).orderBy("bucket")
    vals = [(r.bucket, r.value) for r in filled.collect()]
    assert vals == [
        (0, 1.0),
        (10_000_000_000, None),
        (20_000_000_000, None),
        (30_000_000_000, 4.0),
    ]
    zeroed = ts_ops.gap_fill(
        res, bucket_seconds=10, value_col="value", series_cols=("key",), fill="zero"
    )
    assert [r.value for r in zeroed.orderBy("bucket").collect()] == [1.0, 0.0, 0.0, 4.0]


def test_delta_first_row_null(spark):
    df = _events(spark, [("a", 1, 10.0), ("a", 2, 15.0)])
    out = (
        ts_ops.delta(df, series_cols=("key",), ts_col="ts")
        .orderBy("ts")
        .collect()
    )
    assert out[0].delta is None and out[1].delta == 5.0


def test_resample_modes(spark):
    df = _events(
        spark,
        [("a", 1_000_000_000, 1.0), ("a", 2_000_000_000, 3.0), ("a", 11_000_000_000, 9.0)],
    )
    out = ts_ops.resample(df, 10, series_cols=("key",), how="last").orderBy("bucket")
    assert [r.value for r in out.collect()] == [3.0, 9.0]
    out = ts_ops.resample(df, 10, series_cols=("key",), how="count").orderBy("bucket")
    assert [r.value for r in out.collect()] == [2, 1]


def test_implicit_join_no_cartesian(spark):
    """Catalyst must rewrite filter-over-cross-join to an equi-join
    (the reference parses implicit WHERE joins, parser.go:145-147)."""
    a = spark.createDataFrame([(1, "x")], "id long, a string")
    b = spark.createDataFrame([(1, "y")], "id2 long, b string")
    df = a.crossJoin(b).filter(F.col("id") == F.col("id2"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_zscore_anomaly_flags_spike(spark):
    # 30 flat-ish points then one huge spike: only the spike is anomalous
    rows = [("a", i * 100, 10.0 + (i % 3) * 0.1) for i in range(30)]
    rows.append(("a", 3000, 500.0))
    out = ts_ops.zscore_anomaly(
        _events(spark, rows), window_rows=10, series_cols=("key",)
    ).collect()
    flagged = [r.ts for r in out if r.is_anomaly]
    assert flagged == [3000]
    # incomplete history (first 10 rows — self excluded) scores NULL
    assert all(r.z is None for r in out if r.ts < 1000)
    # zero-variance window scores NULL, not a division blowup
    const = [("c", i, 5.0) for i in range(15)]
    out2 = ts_ops.zscore_anomaly(
        _events(spark, const), window_rows=10, series_cols=("key",)
    ).collect()
    assert all(r.z is None for r in out2)


def test_centroid_per_group_matches_hand_mean(spark):
    from boostdb_spark.operators.similarity import centroid_per_group

    df = spark.createDataFrame(
        [(1, 0, [1.0, 2.0]), (2, 0, [3.0, 6.0]), (3, 1, [10.0, 20.0])],
        "vec_id long, label int, embedding array<float>",
    )
    got = {
        (r.label, r.pos): (r.centroid, r.n)
        for r in centroid_per_group(df).collect()
    }
    assert got == {
        (0, 0): (2.0, 2),
        (0, 1): (4.0, 2),
        (1, 0): (10.0, 1),
        (1, 1): (20.0, 1),
    }


def test_value_histogram_bins(spark):
    df = spark.createDataFrame(
        [("a", 0, 0.0), ("a", 1, 24.9), ("a", 2, 25.0), ("a", 3, -0.1)],
        "key string, ts long, value double",
    )
    got = {
        (r.key, r.bin): (r.n, r.bin_lo)
        for r in ts_ops.value_histogram(df, 25.0, series_cols=("key",)).collect()
    }
    assert got == {("a", 0): (2, 0.0), ("a", 1): (1, 25.0), ("a", -1): (1, -25.0)}


def test_approx_distinct_error(spark):
    """HLL at rsd=0.02 must land within 5% of the exact count on the
    fixture — the bound the no-oracle suite entry relies on."""
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= max(0.05 * r.exact, 2)


def test_approx_quantile_error(spark):
    """percentile_approx(accuracy=10000) must land within 1% of the
    exact interpolated percentile on the fixture."""
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10000).alias("approx"),
            F.expr("percentile(value, 0.5)").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= max(0.01 * abs(r.exact), 1e-9)


def test_time_weighted_avg_hand_case(spark):
    # one series, one 10s bucket: v=10 holds 2s, v=20 holds 8s (to end)
    NS = 1_000_000_000
    df = _events(spark, [("a", 0, 10.0), ("a", 2 * NS, 20.0)])
    out = ts_ops.time_weighted_avg(df, 10, series_cols=("key",)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.bucket == 0 and r.n == 2
    assert r.twa == (10.0 * 2 + 20.0 * 8) / 10.0  # 18.0


def test_series_correlation_perfect(spark):
    # y = 2x per bucket -> corr exactly 1.0
    NS = 1_000_000_000
    rows = []
    for i, x in enumerate([1.0, 2.0, 5.0, 9.0]):
        rows.append(("a", i * 3600 * NS, x))
        rows.append(("b", i * 3600 * NS, 2 * x))
    out = ts_ops.series_correlation(
        _events(spark, rows), "a", "b", 3600, series_col="key"
    ).collect()
    assert out[0].n == 4
    assert abs(out[0].corr - 1.0) < 1e-12


def test_asof_mixed_ts_dtypes(spark):
    """Left carries ns-longs, right carries timestamps (or vice versa):
    the window must order on converted ns, never on a long<->timestamp
    cast (epoch-seconds semantics would mis-scale one side)."""
    base_ns = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z
    left = _events(
        spark,
        [("a", base_ns + 100_000_000_000, 1.0),  # +100 s
         ("a", base_ns + 200_000_000_000, 2.0)],  # +200 s
    )
    right = spark.createDataFrame(
        [("a", "2024-01-01 00:01:30", 10.0),  # +90 s
         ("a", "2024-01-01 00:02:30", 20.0)],  # +150 s
        "key string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = (
        ts_ops.asof_join(left, right, on=["key"])
        .orderBy("ts")
        .collect()
    )
    assert [(r.value, r.value_right) for r in out] == [(1.0, 10.0), (2.0, 20.0)]
    # and the as-of ts is the matched right instant in ns
    assert out[0].ts_right == base_ns + 90 * 10**9
    assert out[1].ts_right == base_ns + 150 * 10**9

    # flipped: left timestamps, right ns-longs
    out2 = (
        ts_ops.asof_join(right, left, on=["key"], direction="forward")
        .orderBy("ts")
        .collect()
    )
    assert [(r.value, r.value_right) for r in out2] == [(10.0, 1.0), (20.0, 2.0)]


def test_linear_trend_known_values(spark):
    """Perfect line y = 2x + 1 over 1s buckets -> slope 2, intercept 1,
    predict extrapolates exactly."""
    import boostdb_spark.operators.timeseries as ts

    rows = [("a", i * 1_000_000_000, 2.0 * i + 1.0) for i in range(5)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    r = ts.linear_trend(df, bucket_seconds=1, predict_seconds=3.0).collect()[0]
    assert r["n"] == 5
    assert abs(r["slope"] - 2.0) < 1e-12
    assert abs(r["intercept"] - 1.0) < 1e-12
    # last x = 4s, predict at x = 7 -> y = 15
    assert abs(r["predict"] - 15.0) < 1e-12


def test_quantile_over_time_interpolation(spark):
    import boostdb_spark.operators.timeseries as ts

    rows = [("a", i * 1_000_000_000, float(v)) for i, v in enumerate([10, 20, 30, 40])]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = ts.quantile_over_time(df, q=0.5, bucket_seconds=10).collect()
    assert len(out) == 1
    # pos = 0.5*3 = 1.5 -> 20 + 0.5*(30-20) = 25
    assert abs(out[0]["quantile"] - 25.0) < 1e-12


def test_counter_changes_and_resets(spark):
    import boostdb_spark.operators.timeseries as ts

    vals = [1.0, 1.0, 2.0, 5.0, 3.0, 3.0, 4.0]  # changes: 4 (2,5,3,4); resets: 1 (5->3)
    rows = [("a", i * 10, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    r = ts.counter_changes(df).collect()[0]
    assert (r["changes"], r["resets"]) == (4, 1)


def test_holt_winters_matches_reference_loop(spark):
    """The declarative fold must equal the straight-line Python loop."""
    import boostdb_spark.operators.timeseries as ts

    vals = [3.0, 5.0, 4.0, 8.0, 6.0, 9.0]
    a, b = 0.5, 0.25
    s, tr = vals[0], vals[1] - vals[0]
    for y in vals[1:]:
        s1 = a * y + (1 - a) * (s + tr)
        tr = b * (s1 - s) + (1 - b) * tr
        s = s1
    rows = [("x", i * 1_000_000_000, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    r = ts.holt_winters(df, alpha=a, beta=b, bucket_seconds=1).collect()[0]
    assert r["n"] == 6
    assert r["level"] == s  # bit-exact: identical expression order
    assert r["trend"] == tr


def test_holt_winters_single_sample(spark):
    import boostdb_spark.operators.timeseries as ts

    df = spark.createDataFrame([("x", 0, 7.5)], "series string, ts long, value double")
    r = ts.holt_winters(df, alpha=0.5, beta=0.25, bucket_seconds=1).collect()[0]
    assert (r["level"], r["trend"]) == (7.5, 0.0)


def test_gorilla_block_roundtrip_exact():
    """Gorilla-style block codec: delta-of-delta ts + XOR values must
    round-trip BIT-exactly on smooth, jumpy, repeated, negative, and
    special-value series — and actually compress the smooth case."""
    import random

    from boostdb_spark.operators import tscompress as tc

    rng = random.Random(3)
    ts = sorted(
        1_700_000_000_000_000_000 + i * 10_000_000_000 + rng.choice([0, 3])
        for i in range(2000)
    )
    v, vals = 50.0, []
    for _ in range(2000):
        v += rng.choice([0.0, 0.0, 0.25, -0.5, 7.0])
        vals.append(v)
    blk = tc.encode_block(ts, vals)
    assert tc.decode_block(blk) == (ts, vals)
    assert len(blk) < 2000 * 16 / 3  # >3x on smooth counters

    specials = [0.0, -0.0, float("inf"), float("-inf"), 1e-308, -5.5]
    blk2 = tc.encode_block(ts[:6], specials)
    t2, v2 = tc.decode_block(blk2)
    assert t2 == ts[:6]
    assert all(
        (a == b) or (str(a) == str(b)) for a, b in zip(v2, specials)
    )  # -0.0 == 0.0 is fine; inf compares equal


def test_gorilla_vectorized_encoder_matches_scalar_reference():
    """The numpy bit-packing encoder must be BIT-identical to the
    scalar reference encoder on arbitrary inputs."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from boostdb_spark.operators import tscompress as tc

    @settings(max_examples=40, deadline=None)
    @given(n=st.integers(1, 300), seed=st.integers(0, 2**31))
    def check(n, seed):
        rng = random.Random(seed)
        t0 = rng.randrange(0, 2**60)
        ts, t = [], t0
        for _ in range(n):
            ts.append(t)
            t += rng.randrange(1, 10**10)
        vals = [
            rng.choice(
                [0.0, -0.0, 1.5, rng.uniform(-1e12, 1e12), float(rng.randrange(100))]
            )
            for _ in range(n)
        ]
        blk = tc.encode_block(ts, vals)
        assert blk == tc._encode_block_py(ts, vals)
        assert tc.decode_block(blk) == tc._decode_block_py(blk)

    check()


def test_fetch_range_span_mismatch_raises(spark):
    """A caller-supplied chunk_seconds that disagrees with the span
    recorded at write time must raise, not silently mis-prune."""
    import pytest as _pytest

    from boostdb_spark.operators import tscompress as tc

    hour = 3600 * 1_000_000_000
    rows = [("a", i * hour, float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    blocks = tc.compress_series(df, chunk_seconds=6 * 3600)
    with _pytest.raises(ValueError, match="does not match"):
        tc.fetch_range(blocks, 0, 10 * hour, chunk_seconds=3600).collect()
    # matching assertion-of-intent is accepted
    got = tc.fetch_range(blocks, 0, 10 * hour, chunk_seconds=6 * 3600)
    assert got.count() == 10


def test_gorilla_block_roundtrip_property():
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from boostdb_spark.operators import tscompress as tc

    @settings(max_examples=40, deadline=None)
    @given(n=st.integers(1, 300), seed=st.integers(0, 2**31))
    def check(n, seed):
        rng = random.Random(seed)
        t0 = rng.randrange(0, 2**60)
        ts, t = [], t0
        for _ in range(n):
            ts.append(t)
            t += rng.randrange(1, 10**10)
        vals = [rng.uniform(-1e12, 1e12) for _ in range(n)]
        assert tc.decode_block(tc.encode_block(ts, vals)) == (ts, vals)

    check()


def test_compress_series_spark_roundtrip(spark):
    from pyspark.sql import functions as F

    from boostdb_spark.operators import tscompress as tc

    rows = [("a", i * 1_000_000_000, float(i % 7) * 0.5) for i in range(500)]
    rows += [("b", i * 2_000_000_000 + 5, 100.0 - i) for i in range(300)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    back = tc.decompress_series(tc.compress_series(df))
    got = sorted(map(tuple, back.collect()))
    assert got == sorted(rows)


def test_linear_trend_timestamp_dtype(spark):
    """linear_trend must give SECONDS-scaled slope for timestamp ts
    too (the 1e9-off regression class): y = 2x + 1 per second."""
    import datetime as dt

    import boostdb_spark.operators.timeseries as ts

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("a", base + dt.timedelta(seconds=i), 2.0 * i + 1.0) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "series string, ts timestamp, value double")
    r = ts.linear_trend(df, bucket_seconds=1, predict_seconds=3.0).collect()[0]
    assert abs(r["slope"] - 2.0) < 1e-9
    assert abs(r["predict"] - 15.0) < 1e-9


def test_compressed_fetch_range_prunes_and_matches(spark):
    """fetch_range must equal a plain filter on the raw rows AND decode
    only the blocks overlapping the range."""
    from pyspark.sql import functions as F

    from boostdb_spark.operators import tscompress as tc

    hour = 3600 * 1_000_000_000
    rows = [("a", i * hour // 4, float(i)) for i in range(200)]  # 50 h span
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    blocks = tc.compress_series(df, chunk_seconds=6 * 3600)
    start, end = 10 * hour, 22 * hour
    got = sorted(map(tuple, tc.fetch_range(blocks, start, end).collect()))
    want = sorted((s, t, v) for s, t, v in rows if start <= t < end)
    assert got == want
    # pruning: only the chunks overlapping [10h, 22h) are decoded
    span = 6 * 3600 * 1_000_000_000
    n_pruned = blocks.filter(
        (F.col("chunk") >= start - start % span) & (F.col("chunk") < end)
    ).count()
    assert n_pruned < blocks.count()


def test_prom_rate_matches_reference_semantics(spark):
    """prom_rate must reproduce promql extrapolatedRate exactly:
    reset-adjusted increase, 1.1x-spacing-capped boundary
    extrapolation, counter zero-cap."""
    import boostdb_spark.operators.timeseries as ts

    NS = 1_000_000_000
    samples = [(0, 10.0), (5, 20.0), (17, 3.0), (30, 9.0), (55, 21.0)]
    df = spark.createDataFrame(
        [("a", t * NS, v) for t, v in samples],
        "series string, ts long, value double",
    )
    r = ts.prom_rate(df, range_seconds=60).collect()[0]

    t_end, rng = 55.0, 60.0
    win = [(t, v) for t, v in samples if t >= t_end - rng]
    n = len(win)
    inc = sum(
        v if v < pv else v - pv
        for (pt, pv), (t, v) in zip(win, win[1:])
    )
    d_start = win[0][0] - (t_end - rng)
    d_end = t_end - win[-1][0]
    si = float(win[-1][0] - win[0][0])
    avg = si / (n - 1)
    thr = avg * 1.1
    # promql order: zero-cap FIRST (guarded on first >= 0), THEN the
    # 1.1x-threshold branch on the capped distance
    d_zero = si * (win[0][1] / inc) if inc > 0 and win[0][1] >= 0 else float("inf")
    ds = min(d_start, d_zero)
    start_ext = ds if ds < thr else avg / 2
    end_ext = d_end if d_end < thr else avg / 2
    want = inc * ((si + start_ext + end_ext) / si) / rng
    assert r["n"] == n and r["rate"] == want  # bit-exact

    # single-sample series are dropped (promql returns no result)
    df1 = spark.createDataFrame(
        [("b", 0, 1.0)], "series string, ts long, value double"
    )
    assert ts.prom_rate(df1, 60).count() == 0


def test_prom_rate_zero_cap_precedes_threshold(spark):
    """The case the orderings disagree on: d_zero in (avg/2, 1.1*avg)
    while d_start >= threshold. promql caps durationToStart by
    durationToZero BEFORE the threshold branch, so the start-side
    extrapolation is d_zero (1.667 s) — not avg/2 (1 s) as
    cap-after-branch would give."""
    import boostdb_spark.operators.timeseries as ts

    NS = 1_000_000_000
    # window [0, 60]: samples at 50..60 step 2; values sum to inc=6
    samples = list(zip(range(50, 61, 2), [1.0, 2.0, 3.0, 4.0, 5.0, 7.0]))
    df = spark.createDataFrame(
        [("a", t * NS, v) for t, v in samples],
        "series string, ts long, value double",
    )
    r = ts.prom_rate(df, range_seconds=60).collect()[0]
    si, inc, avg = 10.0, 6.0, 2.0
    d_zero = si * (1.0 / inc)  # 1.667 in (avg/2=1, 1.1*avg=2.2)
    want = inc * ((si + d_zero + 0.0) / si) / 60.0
    assert r["rate"] == want


def test_asof_nearest(spark):
    left = _events(spark, [("a", 100, 1.0), ("a", 205, 2.0), ("a", 300, 3.0)])
    right = _events(spark, [("a", 90, 10.0), ("a", 210, 20.0)])
    out = (
        ts_ops.asof_join(left, right, on=["key"], direction="nearest")
        .orderBy("ts")
        .collect()
    )
    assert [r.value_right for r in out] == [10.0, 20.0, 20.0]
    # tie -> backward (pandas merge_asof): gaps 10 both ways picks 90
    left2 = _events(spark, [("a", 100, 1.0)])
    right2 = _events(spark, [("a", 90, 5.0), ("a", 110, 7.0)])
    r2 = ts_ops.asof_join(left2, right2, on=["key"], direction="nearest").collect()
    assert r2[0].value_right == 5.0
    # equal-ts right row matches with gap 0
    right3 = _events(spark, [("a", 100, 9.0), ("a", 101, 8.0)])
    r3 = ts_ops.asof_join(left2, right3, on=["key"], direction="nearest").collect()
    assert r3[0].value_right == 9.0


def test_asof_nearest_tolerance_and_single_shuffle(spark):
    left = _events(spark, [("a", 1000, 1.0), ("a", 5000, 2.0)])
    right = _events(spark, [("a", 900, 5.0)])
    out = (
        ts_ops.asof_join(
            left, right, on=["key"], direction="nearest", tolerance_ns=200
        )
        .orderBy("ts")
        .collect()
    )
    assert out[0].value_right == 5.0  # |gap| 100 <= 200
    assert out[1].value_right is None  # |gap| 4100 > 200
    # both window frames share one sort: exactly one Exchange, no Join
    plan = (
        ts_ops.asof_join(left, right, on=["key"], direction="nearest")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_asof_nearest_matches_pandas(spark):
    import pandas as pd

    import random

    rng = random.Random(5)
    lrows = sorted((rng.randrange(0, 10_000), float(i)) for i in range(200))
    rrows = sorted((rng.randrange(0, 10_000), float(i) + 0.5) for i in range(80))
    left = _events(spark, [("k", t, v) for t, v in lrows])
    right = _events(spark, [("k", t, v) for t, v in rrows])
    got = (
        ts_ops.asof_join(left, right, on=["key"], direction="nearest")
        .orderBy("ts", "value")
        .collect()
    )
    want = pd.merge_asof(
        pd.DataFrame(lrows, columns=["ts", "value"]).sort_values(["ts", "value"]),
        pd.DataFrame(rrows, columns=["ts", "rv"]),
        on="ts",
        direction="nearest",
    )
    got_rv = [r.value_right for r in got]
    want_rv = [None if pd.isna(x) else x for x in want["rv"]]
    # pandas nearest breaks ties toward... verify only non-tie rows
    mismatches = sum(1 for a, b in zip(got_rv, want_rv) if a != b)
    assert mismatches <= 2  # duplicate-ts/tie edge rows only
    assert mismatches / len(got_rv) < 0.02


def test_moving_time_agg_irregular_sampling(spark):
    """The time-range frame must include exactly the rows within the
    trailing window — where a row-count frame would over-reach on a
    sparse stretch."""
    NS = 1_000_000_000
    rows = [("a", 0, 1.0), ("a", 5 * NS, 2.0), ("a", 100 * NS, 10.0),
            ("a", 104 * NS, 20.0)]
    df = spark.createDataFrame(rows, "key string, ts long, value double")
    out = {
        r.ts: r.moving_avg
        for r in ts_ops.moving_time_agg(
            df, 10, series_cols=("key",), how="avg"
        ).collect()
    }
    assert out[0] == 1.0
    assert out[5 * NS] == 1.5          # both rows within 10s
    assert out[100 * NS] == 10.0       # the sparse gap resets the frame
    assert out[104 * NS] == 15.0       # 100s row still within 10s
    # count at equal timestamps: RANGE includes peers
    df2 = spark.createDataFrame(
        [("b", 0, 1.0), ("b", 0, 2.0)], "key string, ts long, value double"
    )
    out2 = ts_ops.moving_time_agg(df2, 10, series_cols=("key",), how="count")
    assert [r.moving_count for r in out2.collect()] == [2, 2]


def test_sessionize_gap_semantics(spark):
    NS = 1_000_000_000
    rows = [("u", 0, 0.0), ("u", 10 * NS, 1.0), ("u", 100 * NS, 2.0),
            ("u", 105 * NS, 3.0), ("v", 50 * NS, 4.0)]
    df = spark.createDataFrame(rows, "key string, ts long, value double")
    out = {
        (r.key, r.ts): r.session_id
        for r in ts_ops.sessionize(df, 30, series_cols=("key",)).collect()
    }
    assert out[("u", 0)] == 0
    assert out[("u", 10 * NS)] == 0            # 10s gap < 30s: same session
    assert out[("u", 100 * NS)] == 100 * NS    # 90s gap: new session
    assert out[("u", 105 * NS)] == 100 * NS
    assert out[("v", 50 * NS)] == 50 * NS      # per-series isolation
    # a gap EXACTLY equal to the threshold stays in-session (> splits)
    df2 = spark.createDataFrame(
        [("w", 0, 0.0), ("w", 30 * NS, 1.0)], "key string, ts long, value double"
    )
    out2 = ts_ops.sessionize(df2, 30, series_cols=("key",)).collect()
    assert {r.session_id for r in out2} == {0}


def test_seasonal_decompose_recovers_textbook_split(spark):
    """A linear trend + balanced period-4 season + zero noise must
    decompose EXACTLY: trend = the linear part (the even-period 2xMA
    averages a full season out), seasonal = the true pattern,
    residual = 0."""
    NS = 1_000_000_000
    season = [10.0, -10.0, 0.0, 0.0]
    rows = [
        ("a", i * 60 * NS, 0.5 * i + season[i % 4]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = ts_ops.seasonal_decompose(df, period=4, bucket_seconds=60).collect()
    assert len(out) == 40
    mid = [r for r in out if r.trend is not None]
    assert len(mid) == 36  # 2 incomplete-frame edges each side
    assert max(abs(r.residual) for r in mid) == 0.0
    seas = {
        (r.bucket // (60 * NS)) % 4: round(r.seasonal, 6) for r in mid
    }
    assert seas == {0: 10.0, 1: -10.0, 2: 0.0, 3: 0.0}
    for r in mid:  # trend is exactly the linear part
        i = r.bucket // (60 * NS)
        assert abs(r.trend - 0.5 * i) < 1e-9


def test_rollup_cascade_levels_and_validation(spark):
    """Coarse levels derived from hourly partials equal direct
    aggregation; level validation is loud."""
    import pytest as _pt

    from boostdb_spark.operators.timeseries import rollup_cascade

    H = 3_600 * 10**9
    rows = [
        ("a", 0 * H + 5, 1.0), ("a", 0 * H + 9, 3.0),
        ("a", 1 * H + 1, 5.0), ("a", 7 * H + 2, 7.0),
        ("b", 2 * H + 3, 2.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts long, value double")
    out = rollup_cascade(df, (3600, 21600), keys=("event_type",))
    got = {
        (r["level_s"], r["bucket"], r["event_type"]):
        (r["n"], float(r["total"]), r["vmin"], r["vmax"])
        for r in out.collect()
    }
    assert got[(3600, 0, "a")] == (2, 4.0, 1.0, 3.0)
    assert got[(21600, 0, "a")] == (3, 9.0, 1.0, 5.0)  # sums the partials
    assert got[(21600, 6 * H, "a")] == (1, 7.0, 7.0, 7.0)
    assert got[(21600, 0, "b")] == (1, 2.0, 2.0, 2.0)
    with _pt.raises(ValueError, match="ascending"):
        rollup_cascade(df, (3600, 3600), keys=())
    with _pt.raises(ValueError, match="multiple"):
        rollup_cascade(df, (3600, 5000), keys=())


def test_rollup_cascade_rejects_nonpositive_levels(spark):
    import pytest as _pt

    from boostdb_spark.operators.timeseries import rollup_cascade

    df = spark.createDataFrame([("a", 1, 1.0)], "event_type string, ts long, value double")
    with _pt.raises(ValueError, match="positive"):
        rollup_cascade(df, (0, 3600), keys=())
    with _pt.raises(ValueError, match="positive"):
        rollup_cascade(df, (-3600, 3600), keys=())


def test_pattern_topk_finds_planted_occurrence(spark):
    """z-normalized distance is affine-invariant: a scaled+shifted copy
    of the pattern is an exact (dist==0) match; flat series contribute
    no candidate windows."""
    import pytest as _pt

    NS = 1_000_000_000
    pat = [1.0, 3.0, 2.0, 5.0]
    vals = [0.0, 1.0, 0.0] + [10 + 2 * x for x in pat] + [0.0, 7.0, 0.0]
    rows = [("s1", i * 60 * NS, v) for i, v in enumerate(vals)]
    # an entirely flat series: every window has sd==0 -> excluded
    rows += [("flat", i * 60 * NS, 4.0) for i in range(len(vals))]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = ts_ops.pattern_topk(
        df, pat, bucket_seconds=60, k=3, series_cols=("series",)
    ).collect()
    assert len(out) == 3
    assert out[0].series == "s1"
    assert out[0].start_bucket == 3 * 60 * NS
    assert out[0].dist == 0.0
    assert all(r.series == "s1" for r in out)  # flat series never surfaces
    with _pt.raises(ValueError, match="flat"):
        ts_ops.pattern_topk(df, [2.0, 2.0, 2.0], 60, 3, ("series",))
    with _pt.raises(ValueError, match="at least 2"):
        ts_ops.pattern_topk(df, [1.0], 60, 3, ("series",))


def test_pattern_topk_excludes_variance_underflow_windows(spark):
    """A constant window whose fold variance UNDERFLOWS to a tiny
    negative (c=0.23, m=5 gives s2/m - mu*mu == -1.4e-17) must still be
    excluded: unclamped, sqrt(negative) = NaN and Spark's NaN > 0 is
    TRUE, so the shapeless window would pass the sd filter and its
    quantized distance would floor to 0.0 — ranking FIRST and
    displacing the real match."""
    NS = 1_000_000_000
    pat = [1.0, 3.0, 2.0, 5.0, 4.0]  # m=5
    vals = [0.0, 9.0] + [10 + 2 * x for x in pat] + [9.0, 0.0]
    rows = [("s1", i * 60 * NS, v) for i, v in enumerate(vals)]
    # constant series at 0.23: every length-5 window's variance
    # underflows negative in the double fold
    rows += [("ufl", i * 60 * NS, 0.23) for i in range(len(vals))]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = ts_ops.pattern_topk(
        df, pat, bucket_seconds=60, k=4, series_cols=("series",)
    ).collect()
    assert out, "planted match must surface"
    assert out[0].series == "s1" and out[0].dist == 0.0
    assert all(r.series == "s1" for r in out), (
        "underflow-variance flat windows must never rank"
    )


def test_cusum_changepoints_planted_shifts(spark):
    """CUSUM detects a planted +5sd mean shift at its onset bucket (and
    keeps firing while the level stays shifted — reset-on-fire
    semantics); downward shifts flag direction -1; flat-warmup and
    too-short series emit nothing."""
    import pytest as _pt

    NS = 1_000_000_000
    rows = []
    for i in range(40):
        rows.append(("up", i * 60 * NS,
                     10.0 + (5.0 if i >= 20 else 0.0) + (0.3 if i % 2 else -0.3)))
    for i in range(40):
        rows.append(("down", i * 60 * NS,
                     50.0 - (8.0 if i >= 25 else 0.0)
                     + (0.5 if i % 3 == 0 else -0.25)))
    rows += [("flat", i * 60 * NS, 7.0) for i in range(40)]
    rows += [("short", i * 60 * NS, float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = ts_ops.cusum_changepoints(
        df, bucket_seconds=60, warmup=8, k_mult=0.5, h_mult=4.0,
        series_cols=("series",),
    ).collect()
    ups = sorted(r.bucket // (60 * NS) for r in out if r.series == "up")
    downs = sorted(r.bucket // (60 * NS) for r in out if r.series == "down")
    assert ups[0] == 20 and ups == list(range(20, 40))
    assert downs[0] == 25 and downs == list(range(25, 40))
    assert all(r.direction == 1 for r in out if r.series == "up")
    assert all(r.direction == -1 for r in out if r.series == "down")
    assert not any(r.series in ("flat", "short") for r in out)
    assert all(r.stat > 0 for r in out)
    with _pt.raises(ValueError, match="warmup"):
        ts_ops.cusum_changepoints(df, 60, warmup=1, series_cols=("series",))


def test_retention_offset_exact_integer_division(spark):
    """ADVICE r8: the retention offset must be exact integer division.
    With period_ns=3 and a click exactly k periods after the cohort,
    k = 878997122842135258 is a concrete counterexample where the old
    double-divide-then-cast path yields 878997122842135168 (off by 90,
    long->double rounding), while exact `div` returns k."""
    p = 3
    k = 878_997_122_842_135_258
    assert int(float(k * p) / float(p)) != k  # the trap is real
    df = spark.createDataFrame(
        [("u1", "signup", 0), ("u1", "click", k * p)],
        "user_id string, series string, ts long",
    )
    out = ts_ops.retention_cohorts(
        df, cohort_type="signup", active_type="click", period_ns=p
    ).collect()
    assert len(out) == 1
    assert out[0].offset == k and out[0].n_users == 1


def test_interp_align_duplicate_right_ts_deterministic(spark):
    """ADVICE r8: duplicate right-side timestamps within one key must
    break ties deterministically — (_t, _tag, _rv) ordering pins prev
    to the MAX duplicate value and next to the MIN."""
    left = spark.createDataFrame(
        [("a", 150, 0.0), ("a", 100, 0.0)], "key string, ts long, x double"
    ).drop("x")
    right = spark.createDataFrame(
        [("a", 100, 1.0), ("a", 100, 9.0), ("a", 200, 8.0), ("a", 200, 2.0)],
        "key string, ts long, value double",
    )
    out = {
        r.ts: r.interp
        for r in ts_ops.interp_align(left, right, on=["key"]).collect()
    }
    assert out[100] == 9.0  # exact match -> max among dup samples (prev)
    assert out[150] == 9.0 + (2.0 - 9.0) * 0.5  # pv=max@100, nv=min@200


def test_theilsen_duplicate_timestamps(spark):
    """r9 sf1-probe catch: duplicate timestamps within a bucket (the
    multi-device norm at scale) must not DIVIDE_BY_ZERO — equal-ts
    pairs are omitted (standard Theil-Sen), and a bucket whose points
    ALL share one timestamp drops."""
    NS = 10**9
    rows = [
        ("a", 0 * NS, 0.0), ("a", 0 * NS, 100.0),  # dup ts, diff values
        ("a", 60 * NS, 60.0), ("a", 120 * NS, 120.0),
        ("b", 0 * NS, 1.0), ("b", 0 * NS, 2.0),    # all-dup bucket
    ]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = {r.series: r for r in ts_ops.theilsen_trend(
        df, bucket_seconds=3600, series_cols=("series",)
    ).collect()}
    assert "b" not in out  # no defined slope
    # series a: slopes from the 5 non-vertical pairs (dup-ts pair
    # omitted): (0,60):1, (0,120):1, (100,60):-2/3, (100,120):1/6,
    # (60,120):1 -> sorted lower median (idx 3 of 5) = 1/6... compute:
    slopes = sorted([1.0, 1.0, (60.0-100.0)/60.0, (120.0-100.0)/120.0, 1.0])
    assert out["a"].slope == slopes[(5 + 1) // 2 - 1]
    assert out["a"].n == 4


def test_theilsen_null_points_omitted(spark):
    """r14 advisor: NULL-t / NULL-v points must be omitted BEFORE
    pairing (the engine-expression contract) — a NULL value must not
    poison the slope median as NaN, and a NULL timestamp must not
    crash the Arrow kernel's exact-int64 path. ``n`` counts the
    non-null points actually used; a bucket left with < 2 valid points
    drops."""
    NS = 10**9
    rows = [
        ("a", 0 * NS, 0.0), ("a", 60 * NS, None), ("a", None, 999.0),
        ("a", 120 * NS, 120.0),
        ("b", 0 * NS, 1.0), ("b", None, 2.0),      # 1 valid point only
    ]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = {r.series: r for r in ts_ops.theilsen_trend(
        df, bucket_seconds=3600, series_cols=("series",)
    ).collect()}
    assert "b" not in out            # < 2 non-null points
    assert out["a"].n == 2           # the two fully non-null points
    assert out["a"].slope == 1.0     # (120-0)/(120-0)


def test_bollinger_prefix_matches_frame_exactly(spark):
    """bollinger_bands_prefix (prefix-difference inversion) must be
    BIT-identical to the sliding-frame bollinger_bands — including
    duplicate timestamps (RANGE peers), rows with nothing before the
    frame (coalesce-to-zero path), and frame boundaries landing
    exactly on a sample (t - W inclusive on the integer ns axis)."""
    NS = 10**9
    rows = [
        # series a: dup-ts pair, a gap wider than the window, and a
        # point exactly window-width after another (inclusive bound)
        ("a", 0 * NS, 1.25), ("a", 0 * NS, 3.75),
        ("a", 5 * NS, -2.5), ("a", 10 * NS, 7.0),
        ("a", 100 * NS, 4.0),           # frame contains only itself
        ("a", 110 * NS, 4.0),           # [100s,110s]: 10s window edge
        # series b: single point
        ("b", 3 * NS, 0.125),
    ]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    kw = dict(n_sigma=2.0, series_cols=("series",))
    frame = ts_ops.bollinger_bands(df, 10, **kw)
    prefix = ts_ops.bollinger_bands_prefix(df, 10, **kw)
    a = sorted(map(tuple, frame.collect()))
    b = sorted(map(tuple, prefix.collect()))
    assert a == b  # bit-exact, breach booleans included
    rows_by_ts = {}
    for r in prefix.collect():
        rows_by_ts.setdefault((r.series, r.ts_ns), []).append(r)
    # the inclusive boundary: at t=110s the 10s trailing frame holds
    # BOTH 100s and 110s samples (equal values -> sd exactly 0)
    (r110,) = rows_by_ts[("a", 110 * NS)]
    assert r110.mid == 4.0 and r110.sd == 0.0
    # dup-ts peers share identical band stats (RANGE peer semantics)
    peers = rows_by_ts[("a", 0)]
    assert len(peers) == 2
    assert len({(p.mid, p.sd, p.upper, p.lower) for p in peers}) == 1
    assert peers[0].mid == 2.5  # (1.25 + 3.75) / 2


def test_bucket_means_drop_null_values(spark):
    """Every operator over exact bucket means drops NULL values before
    the mean: a bucket holding {v, NULL} has mean v (not v/2), so each
    result equals the result with the NULL rows removed."""
    NS = 1_000_000_000
    vals = [1.0, 3.0, 2.0, 6.0, 4.0, 5.0, 9.0, 7.0, 8.0, 2.0, 1.0, 3.0]
    rows = []
    for i, x in enumerate(vals):
        rows.append(("a", i * 10 * NS, x))
        rows.append(("b", i * 10 * NS + 1, 2.0 * x + (i % 3)))
    nulls = [("a", 3 * 10 * NS + 5, None), ("b", 7 * 10 * NS + 5, None)]
    full, clean = _events(spark, rows + nulls), _events(spark, rows)
    ops = {
        "series_correlation": lambda d: ts_ops.series_correlation(
            d, "a", "b", 10, series_col="key"),
        "autocorrelation": lambda d: ts_ops.autocorrelation(
            d, 1, 10, series_cols=("key",)),
        "linear_trend": lambda d: ts_ops.linear_trend(
            d, 10, series_cols=("key",)),
        "holt_winters": lambda d: ts_ops.holt_winters(
            d, 0.5, 0.25, 10, series_cols=("key",)),
        "cusum_changepoints": lambda d: ts_ops.cusum_changepoints(
            d, 10, warmup=3, h_mult=1.0, series_cols=("key",)),
        "pattern_topk": lambda d: ts_ops.pattern_topk(
            d, [1.0, 3.0, 2.0], 10, 5, series_cols=["key"]),
    }
    for name, op in ops.items():
        got = sorted(op(full).collect())
        assert got, name
        assert got == sorted(op(clean).collect()), name
    # the bucket {6.0, NULL} of series a: its mean is 6.0
    lt = ts_ops.linear_trend(
        _events(spark, [("a", 0, 6.0), ("a", 1, None), ("a", 10 * NS, 7.0)]),
        10, series_cols=("key",),
    ).collect()[0]
    assert (lt.n, lt.intercept, lt.slope) == (2, 6.0, 0.1)


def test_irate_gauge_ignores_resets(spark):
    """counter=False takes the plain last-two-sample slope, a drop
    included; counter=True treats the drop as a reset."""
    NS = 1_000_000_000
    df = _events(spark, [("a", 0, 5.0), ("a", NS, 3.0), ("a", 3 * NS, 1.0)])
    gauge = ts_ops.irate(df, series_cols=("key",), counter=False).collect()
    counter = ts_ops.irate(df, series_cols=("key",), counter=True).collect()
    assert [(r.ts_ns, r.irate) for r in gauge] == [(3 * NS, -1.0)]
    assert [(r.ts_ns, r.irate) for r in counter] == [(3 * NS, 0.5)]


def test_autocorrelation_alternating_sequence(spark):
    """An alternating bucket-mean sequence is perfectly anti-correlated
    with itself at lag 1 and perfectly correlated at lag 2."""
    NS = 1_000_000_000
    rows = [("a", i * 10 * NS, 1.0 if i % 2 == 0 else -1.0) for i in range(7)]
    rows += [("a", i * 10 * NS + 1, 3.0 if i % 2 == 0 else -3.0) for i in range(7)]
    df = _events(spark, rows)
    lag1 = ts_ops.autocorrelation(df, 1, 10, series_cols=("key",)).collect()
    lag2 = ts_ops.autocorrelation(df, 2, 10, series_cols=("key",)).collect()
    assert lag1[0].n == 6 and abs(lag1[0].autocorr + 1.0) < 1e-12
    assert lag2[0].n == 5 and abs(lag2[0].autocorr - 1.0) < 1e-12


def test_mad_over_time_hand_cases(spark):
    """Odd and even bucket sizes, NULL values dropped: median and MAD
    by the (n-1)/2 interpolation."""
    NS = 1_000_000_000
    odd = [1.0, 2.0, 3.0, 4.0, 100.0]
    even = [1.0, 2.0, 3.0, 4.0]
    rows = [("a", i * NS, v) for i, v in enumerate(odd)]
    rows += [("a", (10 + i) * NS, v) for i, v in enumerate(even)]
    rows += [("a", 15 * NS, None)]
    out = ts_ops.mad_over_time(_events(spark, rows), 10, series_cols=("key",))
    got = sorted((r.bucket, r.n, r.median, r.mad) for r in out.collect())
    # odd: |x - 3| sorted = 0, 1, 1, 2, 97; even: |x - 2.5| = .5, .5, 1.5, 1.5
    assert got == [(0, 5, 3.0, 1.0), (10 * NS, 4, 2.5, 1.0)]


def test_ewma_rows_last_row_equals_ewma_final(spark):
    """The default per-row loop ends each series on exactly the value
    of the seeded SQL fold (bitwise, no tolerance)."""
    import random

    rng = random.Random(7)
    rows = [
        (k, i * 1000, rng.uniform(-50.0, 50.0))
        for k in ("a", "b", "c") for i in range(60)
    ]
    df = _events(spark, rows)
    last = {
        r.key: r.ewma
        for r in ts_ops.ewma_rows(df, 0.3, series_cols=("key",))
        .filter(F.col("ts") == 59_000)
        .collect()
    }
    final = {
        r.key: r.ewma
        for r in ts_ops.ewma_final(df, 0.3, series_cols=("key",)).collect()
    }
    assert len(final) == 3 and last == final
