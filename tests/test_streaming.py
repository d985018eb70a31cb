"""Structured Streaming surface: streaming results must equal the batch
plan on the same input (the suite's DuckDB oracles certify the batch
side, so equality transfers correctness to the streaming path).

Input: the sf0.001 events fixture, split into multiple parquet files so
availableNow processing covers multi-micro-batch behavior.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from boostdb_spark.sources.seriesfamily import SeriesFamily
from boostdb_spark.streaming import (
    running_aggregate,
    session_agg,
    stream_write,
    tumbling_agg,
)
from boostdb_spark.streaming.ingest import file_stream, read_family_stream
from tests.conftest import SF_DIR, ts_as_timestamp

EVENTS = f"{SF_DIR}/events.parquet"


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    """events as a 4-file parquet landing dir with a proper TIMESTAMP
    ts (micros) — the shape a streaming source needs."""
    d = str(tmp_path_factory.mktemp("landing") / "events")
    (
        ts_as_timestamp(spark.read.parquet(EVENTS))
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d)
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(stream_df, name, mode, trigger=None):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    q.awaitTermination(120)
    return q


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_streaming_equals_batch(spark, landing):
    sdf = file_stream(spark, landing, max_files_per_trigger=1)
    aggs = [
        F.count("*").alias("n"),
        F.sum("value").alias("total"),
    ]
    out = tumbling_agg(
        sdf, "1 hour", ["event_type"], aggs, ts_col="ts", watermark="10 minutes"
    )
    _run_to_memory(out, "tumbling_t", "complete")
    got = spark.table("tumbling_t")

    bdf = spark.read.parquet(landing)
    want = tumbling_agg(bdf, "1 hour", ["event_type"], aggs, ts_col="ts")
    cols = ["win_start", "win_end", "event_type", "n", "total"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) > 0


def test_session_streaming_equals_batch(spark, landing):
    # Session-window streaming aggregation supports only append mode:
    # a session is emitted once its end falls behind the watermark.
    # Single availableNow batch (round-robin landing files would strand
    # later files behind a 0s watermark), then the trailing no-data
    # batch advances the watermark to max event time and flushes every
    # closed session — so streaming == batch sessions with
    # win_end <= max(ts).
    sdf = file_stream(spark, landing)
    aggs = [F.count("*").alias("n")]
    out = session_agg(
        sdf, "30 minutes", ["user_id"], aggs, ts_col="ts", watermark="0 seconds"
    )
    _run_to_memory(out, "session_t", "append")
    got = spark.table("session_t")

    bdf = spark.read.parquet(landing)
    max_ts = bdf.agg(F.max("ts")).collect()[0][0]
    want = session_agg(bdf, "30 minutes", ["user_id"], aggs, ts_col="ts").filter(
        F.col("win_end") <= F.lit(max_ts)
    )
    cols = ["win_start", "win_end", "user_id", "n"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) > 0


def test_running_aggregate_final_state_equals_batch(spark, landing):
    sdf = file_stream(spark, landing, max_files_per_trigger=1).withColumn(
        "series", F.col("event_type")
    )
    out = running_aggregate(sdf, key_cols=["series"], value_col="value")
    _run_to_memory(out, "running_t", "update")
    got = spark.table("running_t")
    # update mode emits one row per touched key per batch; final state =
    # the max-n row per key
    final = (
        got.groupBy("series")
        .agg(
            F.max_by("n", "n").alias("n"),
            F.max_by("total", "n").alias("total"),
            F.max_by("vmin", "n").alias("vmin"),
            F.max_by("vmax", "n").alias("vmax"),
        )
    )
    want = (
        spark.read.parquet(landing)
        .groupBy(F.col("event_type").alias("series"))
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )
    g = {r["series"]: (r["n"], round(r["total"], 6), r["vmin"], r["vmax"]) for r in final.collect()}
    w = {r["series"]: (r["n"], round(r["total"], 6), r["vmin"], r["vmax"]) for r in want.collect()}
    assert g == w and len(g) > 0


def test_stream_stream_join_equals_batch(spark, landing):
    """Watermarked stream-stream inner join with a time-bound — the
    declared-join surface under streaming semantics. Single
    availableNow batch; both sides watermarked; the interval condition
    bounds state. Streaming result == the same join in batch."""
    purchases = file_stream(spark, landing).filter(
        F.col("event_type") == "purchase"
    ).select("user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
    errors = file_stream(spark, landing).filter(
        F.col("event_type") == "error"
    ).select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))

    cond = (
        (F.col("user_id") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    joined = purchases.withWatermark("p_ts", "0 seconds").join(
        errors.withWatermark("e_ts", "0 seconds"), cond
    )
    _run_to_memory(joined, "ssj_t", "append")
    got = spark.table("ssj_t")

    b = spark.read.parquet(landing)
    bp = b.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    be = b.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    want = bp.join(be, cond)
    cols = ["user_id", "p_ts", "p_value", "e_user", "e_ts"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) > 0


def test_continuous_rollup_converges_to_batch(spark, landing, tmp_path):
    """Continuous rollup: multi-batch streaming maintenance of an
    hourly rollup table must converge to the batch bucket aggregation
    (update-mode state accumulates across batches; dynamic partition
    overwrite keeps only each window's LATEST totals)."""
    from boostdb_spark.streaming import continuous_rollup, tumbling_agg

    rollup = str(tmp_path / "rollup")
    sdf = file_stream(spark, landing, max_files_per_trigger=1)
    aggs = [
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
    ]
    q = continuous_rollup(
        sdf, rollup, checkpoint=str(tmp_path / "ckpt"), duration="1 hour",
        keys=["event_type"], aggs=aggs, ts_col="ts",
        watermark="365 days",  # never finalize: every window stays updatable
    )
    q.awaitTermination(180)

    got = spark.read.parquet(rollup)
    want = tumbling_agg(spark.read.parquet(landing), "1 hour", ["event_type"],
                        aggs, ts_col="ts")
    cols = ["win_start", "win_end", "event_type", "n", "total"]
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    w = sorted(tuple(r) for r in want.select(*cols).collect())
    assert g == w and len(g) > 0


def test_streaming_dedup_within_watermark(spark, landing, tmp_path):
    """Streaming exactly-once dedup: a source that replays every event
    twice must come out with each event_id once — dropDuplicates keyed
    on event_id with state bounded by the watermark (the streaming
    analog of dedup_exact)."""
    doubled = str(tmp_path / "doubled")
    src = spark.read.parquet(landing)
    src.union(src).repartition(2).write.parquet(doubled)

    sdf = (
        file_stream(spark, doubled)
        .withWatermark("ts", "0 seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _run_to_memory(sdf, "dedup_t", "append")
    got = spark.table("dedup_t")
    assert got.count() == src.count()
    assert got.select("event_id").distinct().count() == src.count()


def test_family_stream_schema_merges_every_file(spark, tmp_path):
    """read_family_stream takes the family's merged schema: an attribute
    that only a later write added (host) is a stream column too, where
    one file's footer alone had [series, ts, value, ts_date]."""
    fam = SeriesFamily(spark, "test", "evolving", str(tmp_path / "families"))
    t0 = 1_704_067_200 * 10**9
    fam.write(spark.createDataFrame(
        [("cpu", t0, 1.0)], "series string, ts long, value double"
    ))
    fam.write(spark.createDataFrame(
        [("cpu", t0 + 86_400 * 10**9, 2.0, "h1")],
        "series string, ts long, value double, host string",
    ))
    assert "host" in fam.read().columns
    assert read_family_stream(spark, fam).columns == fam.read().columns


def test_stream_write_then_read_family(spark, landing, tmp_path):
    fam = SeriesFamily(spark, "test", "stream_fam", str(tmp_path / "families"))
    src = file_stream(spark, landing, max_files_per_trigger=2).select(
        F.col("event_type").alias("series"), "ts", "value"
    )
    q = stream_write(fam, src, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = fam.fetch()
    n_src = spark.read.parquet(landing).count()
    assert got.count() == n_src
    assert {"series", "ts", "value", "ts_date"} <= set(got.columns)
    # streamed family is immediately readable AS a stream again
    sdf = read_family_stream(spark, fam)
    assert sdf.isStreaming


def test_continuous_rollup_merged_converges_to_batch(spark, landing, tmp_path):
    """Merge-based rollup sink (high-cardinality keys: user_id): same
    convergence contract as the partitioned variant, but the table is
    partitioned by win_start ONLY — changed keys are merged into the
    touched window partitions, unchanged keys survive the rewrite."""
    import os

    from boostdb_spark.streaming import continuous_rollup_merged, tumbling_agg

    rollup = str(tmp_path / "rollup_m")
    sdf = file_stream(spark, landing, max_files_per_trigger=1)
    aggs = [
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
    ]
    q = continuous_rollup_merged(
        sdf, rollup, checkpoint=str(tmp_path / "ckpt_m"), duration="1 hour",
        keys=["user_id"], aggs=aggs, ts_col="ts",
        watermark="365 days",  # never finalize: every window stays updatable
    )
    q.awaitTermination(180)

    got = spark.read.parquet(rollup)
    want = tumbling_agg(spark.read.parquet(landing), "1 hour", ["user_id"],
                        aggs, ts_col="ts")
    cols = ["win_start", "win_end", "user_id", "n", "total"]
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    w = sorted(tuple(r) for r in want.select(*cols).collect())
    assert g == w and len(g) > 0
    # directory layout: one level, win_start only (no per-key dirs)
    parts = [p for p in os.listdir(rollup) if p.startswith("win_start=")]
    assert parts, "expected win_start partition directories"
    sub = os.listdir(os.path.join(rollup, parts[0]))
    assert not any(s.startswith("user_id=") for s in sub)


def test_streaming_ewma_converges_to_batch(spark, tmp_path):
    """Stateful streaming EWMA across two TIME-ORDERED micro-batches:
    the final state per key must bit-match the batch fold (ewma_final)
    over the same rows."""
    import os
    import time as _time

    from boostdb_spark.operators.timeseries import ewma_final
    from boostdb_spark.streaming import streaming_ewma

    src = ts_as_timestamp(spark.read.parquet(EVENTS)).select(
        "event_type", "ts", "event_id", "value"
    )
    # split at the time median so each file is a contiguous time range
    rows = src.select(F.unix_micros("ts").alias("t")).agg(
        F.expr("percentile(t, 0.5)").alias("m")
    ).collect()
    mid_ts = int(rows[0]["m"])
    d = str(tmp_path / "landing_ewma")
    first = src.filter(F.unix_micros("ts") <= mid_ts)
    second = src.filter(F.unix_micros("ts") > mid_ts)
    first.coalesce(1).write.parquet(d + "/f1")
    _time.sleep(1.1)  # distinct mtimes: file source orders by mod time
    second.coalesce(1).write.parquet(d + "/f2")

    sdf = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    out = streaming_ewma(
        sdf, alpha=0.25, key_cols=["event_type"], value_col="value",
        ts_col="ts", order_extra=["event_id"],
    )
    _run_to_memory(out, "ewma_t", "update")
    got_df = spark.table("ewma_t")
    final = got_df.groupBy("event_type").agg(
        F.max_by("ewma", "n").alias("ewma"), F.max("n").alias("n")
    )
    got = {r["event_type"]: (r["ewma"], r["n"]) for r in final.collect()}

    want_df = ewma_final(
        src, alpha=0.25, value_col="value", series_cols=("event_type",),
        ts_col="ts", order_extra=("event_id",),
    )
    counts = {r["event_type"]: r["n"] for r in src.groupBy("event_type").count().withColumnRenamed("count", "n").collect()}
    want = {r["event_type"]: (r["ewma"], counts[r["event_type"]]) for r in want_df.collect()}
    assert got == want and len(got) > 0


def test_stream_write_checkpoint_restart_exactly_once(spark, landing, tmp_path):
    """Kill-and-resume durability: drain half the landing files, stop,
    land more files, restart from the SAME checkpoint — the family must
    end up with every source row exactly once (the checkpoint replaces
    the reference's Wait() durability barrier; no duplicates on
    restart, no holes)."""
    import os

    stage = str(tmp_path / "staged_landing")
    os.makedirs(stage)
    files = sorted(
        f for f in os.listdir(landing) if f.endswith(".parquet")
    )
    assert len(files) >= 4
    half, rest = files[:2], files[2:]
    for f in half:
        shutil.copy(os.path.join(landing, f), os.path.join(stage, f))

    fam = SeriesFamily(spark, "test", "restart_fam", str(tmp_path / "families"))
    ckpt = str(tmp_path / "ckpt")

    def drain():
        src = file_stream(spark, stage, max_files_per_trigger=1).select(
            F.col("event_type").alias("series"), "ts", "value", "event_id"
        )
        q = stream_write(fam, src, checkpoint=ckpt)
        q.awaitTermination(120)

    drain()  # first run: half the files
    n1 = fam.fetch().count()
    for f in rest:  # more data lands while the stream is DOWN
        shutil.copy(os.path.join(landing, f), os.path.join(stage, f))
    drain()  # restart from the same checkpoint

    got = fam.fetch()
    src_ids = {r["event_id"] for r in spark.read.parquet(landing).collect()}
    got_ids = [r["event_id"] for r in got.collect()]
    assert n1 > 0 and len(got_ids) > n1
    assert len(got_ids) == len(set(got_ids)) == len(src_ids)  # exactly once
    assert set(got_ids) == src_ids


def test_stateful_state_survives_restart(spark, landing, tmp_path):
    """applyInPandasWithState state-store recovery: drain half the
    files, stop, drain the rest from the same checkpoint — the final
    per-key running aggregate must equal the batch aggregate over ALL
    data (state restored, not restarted from zero)."""
    import os

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    files = sorted(f for f in os.listdir(landing) if f.endswith(".parquet"))
    half, rest = files[:2], files[2:]
    for f in half:
        shutil.copy(os.path.join(landing, f), os.path.join(stage, f))
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain():
        src = file_stream(spark, stage, max_files_per_trigger=1).withColumn(
            "series", F.col("event_type")
        )
        out = running_aggregate(src, key_cols=["series"], value_col="value")

        def write_batch(bdf, _bid):
            bdf.write.mode("append").parquet(sink)

        q = (
            out.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    for f in rest:
        shutil.copy(os.path.join(landing, f), os.path.join(stage, f))
    drain()

    got = spark.read.parquet(sink)
    final = got.groupBy("series").agg(
        F.max_by("n", "n").alias("n"), F.max_by("total", "n").alias("total")
    )
    want = (
        spark.read.parquet(landing)
        .groupBy(F.col("event_type").alias("series"))
        .agg(F.count("value").alias("n"), F.sum("value").alias("total"))
    )
    g = {r["series"]: (r["n"], round(r["total"], 6)) for r in final.collect()}
    w = {r["series"]: (r["n"], round(r["total"], 6)) for r in want.collect()}
    assert g == w and len(g) > 0


def test_stream_static_join_equals_batch(spark, landing):
    """Stream-static join — the dimension-enrichment pattern: the
    streaming fact side joins a STATIC (batch) lookup table with no
    watermark or state store (each micro-batch joins the broadcast dim
    independently). Streaming result == batch join."""
    dim = spark.createDataFrame(
        [("click", "web"), ("purchase", "commerce"), ("error", "ops")],
        "event_type string, domain string",
    )
    src = file_stream(spark, landing).select("event_id", "event_type", "value")
    joined = src.join(F.broadcast(dim), "event_type")
    _run_to_memory(joined, "ssj_static_t", "append")
    got = spark.table("ssj_static_t")

    want = (
        spark.read.parquet(landing)
        .select("event_id", "event_type", "value")
        .join(dim, "event_type")
    )
    cols = ["event_id", "event_type", "value", "domain"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) > 0


def test_upsert_view_cross_batch_merge(spark, tmp_path):
    """upsert_view: rows for the same key split across micro-batches
    converge to the single latest row (ts, then tie-break order);
    state survives and merges across batches."""
    import os

    from pyspark.sql import functions as F

    from boostdb_spark.streaming.stateful import upsert_view

    rows = [
        (1, "2024-01-01 10:00:00", 1.0, 100),
        (1, "2024-01-01 12:00:00", 2.0, 101),   # latest for key 1
        (2, "2024-01-01 09:00:00", 5.0, 200),
        (2, "2024-01-01 09:00:00", 6.0, 201),   # ts tie -> higher event_id
        (3, "2024-01-01 08:00:00", 7.0, 300),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    landing = str(tmp_path / "landing")
    # one row per file -> every merge is a real cross-batch upsert
    df.repartition(5).write.parquet(landing)
    sdf = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    state = str(tmp_path / "state")
    q = upsert_view(
        sdf, ["user_id"], "ts", state,
        checkpoint=str(tmp_path / "ckpt"), order_extra=("event_id",),
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.value, r.event_id)
        for r in spark.read.parquet(state).collect()
    }
    assert got == {1: (2.0, 101), 2: (6.0, 201), 3: (7.0, 300)}


def test_drain_conf_sets_and_restores(spark):
    """drain_conf must leave the session exactly as it found it —
    a leaked RocksDB provider or 8-partition setting would silently
    skew every batch entry that follows in the same process."""
    from boostdb_spark.streaming.drain import ROCKSDB_PROVIDER, drain_conf

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    key = "spark.sql.streaming.stateStore.providerClass"
    with drain_conf(spark):
        # no landing given -> the scale-adaptive default bottoms out at
        # the 2-partition floor (r14: state partitions size to the
        # replay volume, never a fixed count)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
        assert spark.conf.get(key) == ROCKSDB_PROVIDER
        assert (
            spark.conf.get(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled"
            )
            == "true"
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.conf.get(key, None) != ROCKSDB_PROVIDER

    # a drain that raises inside the context still restores every key
    # to its prior value — including pre-set, non-default ones
    keys = (
        "spark.sql.shuffle.partitions",
        key,
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for no_data in ("false", "true"):
            prior = {
                keys[0]: "7",
                keys[1]: "org.example.PriorStateStoreProvider",
                keys[2]: "false",
                keys[3]: no_data,
            }
            for k, v in prior.items():
                spark.conf.set(k, v)
            with pytest.raises(RuntimeError, match="drain failed"):
                with drain_conf(spark, no_data_batches=False):
                    assert spark.conf.get(key) == ROCKSDB_PROVIDER
                    assert spark.conf.get(keys[3]) == "false"
                    raise RuntimeError("drain failed")
            assert {k: spark.conf.get(k) for k in keys} == prior
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_state_partitions_scale_with_replay_volume(tmp_path, monkeypatch):
    """r14 optimization contract: streaming state partitions derive
    from the landing's replay volume (~64 MB per partition, floor 2,
    cap 200) — a constant would multiply fixed per-commit state-store
    IO at bench SF and cram corpus-scaled state into too few stores at
    100 TB. Env override wins for cluster tuning."""
    from boostdb_spark.streaming.drain import (
        state_partitions as _state_partitions,
    )

    monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS", raising=False)
    # no landing given -> floor
    assert _state_partitions(None) == "2"
    # landing given but ZERO locally visible parquet bytes (empty dir,
    # object-store URI, unreadable path) -> None = keep the session's
    # cluster-sized shuffle.partitions, never the floor (r14 advisor)
    assert _state_partitions(str(tmp_path)) is None
    assert _state_partitions("s3://bucket/landing") is None
    # ~130 MB of parquet bytes -> ceil(130/64) = 3 partitions
    (tmp_path / "a.parquet").write_bytes(b"\0" * (65 << 20))
    (tmp_path / "b.parquet").write_bytes(b"\0" * (65 << 20))
    assert _state_partitions(str(tmp_path)) == "3"
    # non-parquet files are ignored
    (tmp_path / "c.crc").write_bytes(b"\0" * (500 << 20))
    assert _state_partitions(str(tmp_path)) == "3"
    # the cap keys off cores (r15 sf1 probe: the per-HOST state-store
    # instance count is the cost cliff — 200 instances = wall parity,
    # 800 = 8-12x wall; 2x cores x ~4 stores/drain stays in the
    # measured-safe regime): a sparse 26 GB landing asks for ~416
    # partitions but caps at 2*cores
    import os as _os

    big = tmp_path / "big.parquet"
    with open(big, "wb") as f:
        f.truncate(26 << 30)  # sparse: logical 26 GB, ~0 disk
    assert _state_partitions(str(tmp_path), cores=32) == "64"
    assert _state_partitions(str(tmp_path), cores=8) == "16"
    _os.unlink(big)
    # env override wins and is validated up front (r14 advisor: a bad
    # value used to surface only later inside spark.conf.set)
    monkeypatch.setenv("SPARK_GRAFT_STATE_PARTITIONS", "48")
    assert _state_partitions(str(tmp_path)) == "48"
    for bad in ("zero", "0", "-3", "1.5"):
        monkeypatch.setenv("SPARK_GRAFT_STATE_PARTITIONS", bad)
        with pytest.raises(ValueError, match="positive integer"):
            _state_partitions(str(tmp_path))


def test_drain_policy_keys_live_only_in_drain_module():
    """The drain policy has one home: the session keys it sets appear
    in no library or bench source except streaming/drain.py."""
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    home = root / "boostdb_spark" / "streaming" / "drain.py"
    sources = [*(root / "boostdb_spark").rglob("*.py"), root / "bench.py"]
    literals = (
        "stateStore.providerClass",
        "changelogCheckpointing",
        "noDataMicroBatches",
    )
    found = {
        (str(p.relative_to(root)), lit)
        for p in sources
        for lit in literals
        if lit in p.read_text()
    }
    assert {f for f, _ in found} == {str(home.relative_to(root))}
    assert {lit for _, lit in found} == set(literals)


def test_bench_runner_profiles_batch_and_stream_entries(spark):
    """bench.py's runner gives each run a profile with every
    ``spans.COUNTERS`` key, and a streaming entry's profile counts the
    micro-batch jobs that run under its query's run-id job group."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    runner = bench.Runner(spark, SF_DIR)
    names = ("flagship_series_scan", "stream_batch_parity")
    try:
        for name in names:
            runner.entry(name)
    finally:
        spark.streams.removeListener(runner.listener)
    for name in names:
        assert set(bench.spans.COUNTERS) <= set(runner.profile[name])
        assert runner.profile[name]["jobs"] >= 1

    span = next(s for s in runner.tracer.spans if s.name == names[1])
    run_ids = span.groups[1:]  # the first group is the span's own
    tracker = spark.sparkContext.statusTracker()
    batch_jobs = {j for g in run_ids for j in tracker.getJobIdsForGroup(g)}
    counted = {j.id for j in runner.tracer.jobs if j.span == span.id}
    assert run_ids and batch_jobs and batch_jobs <= counted
    assert runner.profile[names[1]]["jobs"] == len(counted)


def test_upsert_bucketed_state_io_shape(spark, tmp_path):
    """r8-verdict I/O contract of the bucketed state merge: a batch
    must neither read nor rewrite buckets it does not touch — every
    file in an untouched bucket partition is BYTE-IDENTICAL (same
    paths, same md5) after the merge, and only the touched bucket's
    partition changes."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from boostdb_spark.streaming.stateful import merge_upsert_bucket

    def snapshot(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
        return out

    state = str(tmp_path / "state")
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merge_upsert_bucket(
        mk([(k, "2024-01-01 10:00:00", float(k)) for k in range(1, 21)]),
        state, ["user_id"], "ts", n_buckets=8,
    )
    before = snapshot(state)
    n_parts_before = len(
        {p.split("/")[0] for p in before}
    )
    assert n_parts_before > 1  # keys spread over several buckets
    # batch 2 touches exactly one key -> one bucket
    bucket = spark.range(1).select(
        F.pmod(F.hash(F.lit(7).cast("long")), F.lit(8)).cast("int").alias("b")
    ).collect()[0]["b"]
    merge_upsert_bucket(
        mk([(7, "2024-01-02 10:00:00", 99.0)]),
        state, ["user_id"], "ts", n_buckets=8,
    )
    after = snapshot(state)
    touched_dir = f"_bucket={bucket}"
    untouched_before = {
        p: h for p, h in before.items() if not p.startswith(touched_dir)
    }
    untouched_after = {
        p: h for p, h in after.items() if not p.startswith(touched_dir)
    }
    assert untouched_before == untouched_after  # byte-identical files
    assert {p for p in before if p.startswith(touched_dir)} != {
        p for p in after if p.startswith(touched_dir)
    } or before != after  # the touched bucket DID rewrite
    # and the merged view is correct: key 7 upserted, others intact
    got = {
        r.user_id: r.value
        for r in spark.read.parquet(state).drop("_bucket").collect()
    }
    assert got[7] == 99.0 and got[1] == 1.0 and len(got) == 20
