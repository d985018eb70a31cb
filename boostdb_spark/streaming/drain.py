"""Drain policy for ``availableNow`` streaming queries — the one place
that decides how a catch-up drain runs and how its cost is recorded.

A drain replays a landing directory through micro-batches until the
source is exhausted, then stops (the reference's per-slice executor
loop and async write pipeline, re-expressed as Structured Streaming).
What makes such a drain cheap is session configuration that must be
set around the query and restored after it, success or failure:

- the RocksDB state-store provider with changelog checkpointing;
- state partitions sized to the replay volume (:func:`state_partitions`);
- optionally, no trailing no-data micro-batch.

:func:`drain` runs start -> ``awaitTermination`` under
:func:`drain_conf` and returns :func:`progress_detail`, the per-batch
decomposition a bench record needs to explain a drain's wall.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: RocksDB state-store provider (bundled with Spark; rocksdbjni ships
#: in the pyspark distribution) — the public fix for the default
#: HDFS-backed provider's many small fsync-ing state-commit writes,
#: which degrade first under host FS pressure (BENCH_r08
#: stream_detail pinned 16.6 s of state_commit_ms on the stream-stream
#: join drain at 3.2-3.5x the same-code local record). Changelog
#: checkpointing writes per-batch deltas instead of full snapshots.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_CHANGELOG = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def state_partitions(
    landing: str | None, cores: int | None = None
) -> str | None:
    """Scale-adaptive streaming STATE partition count (optimization
    guide §2: derive partitioning from input size, never a constant
    tuned to one scale). Stateful streaming plans take
    shuffle.partitions as the state partition count (AQE never applies
    to state stores), and EVERY micro-batch commits EVERY state
    partition of every stateful operator — per-commit cost is
    dominated by fixed state-store IO (RocksDB instance load +
    changelog write + fsync), so partitions beyond what the state
    volume needs multiply pure commit overhead: the r14 open
    calibration (BENCH_SAMECODE_OPEN_r14.json) measured 85.6 s of
    state-commit wall across the drains at the old fixed 8 partitions,
    ~4x what the MB-sized bench replays need — and at 100 TB a fixed 8
    would cram corpus-scaled state into 8 stores. Sizing: ~64 MB of
    replay input per state partition, floor 2 (the multi-partition
    commit/merge path stays exercised at every SF), cap 2x the
    session's cores (``cores=``, normally
    ``sparkContext.defaultParallelism`` = total executor cores).

    WHY the cap keys off cores (r15 sf1 probe, r14-verdict ask #5): a
    stateful drain instantiates (partitions x stateful-operator
    stores) RocksDB instances per host core pool, and the per-HOST
    instance count — not the data — is the cost cliff. Measured on the
    2M-row sf1 join drain (32 cores, 4 join-state stores): forced 50
    partitions (200 instances) = wall parity with auto [13.5-14.4 s vs
    12.4-14.4 s, commits fully overlapped by cores]; forced 200
    partitions (800 instances) = wall 110-168 s, 8-12x, with
    cumulative commit time 2,300-3,600 s (instance load + fsync
    thrash). 2x cores x ~4 stores = ~8 instances per core, inside the
    measured-safe regime on every tier; a cluster inherits the cap
    from its real core count via defaultParallelism.
    ``SPARK_GRAFT_STATE_PARTITIONS`` overrides for cluster tuning
    (size to the real retained state, not the replay, when the two
    diverge).

    Return contract — a partition count as a string, or ``None``:

    - ``landing=None`` returns the floor ``"2"``. The caller states
      there is no landing replay to measure (a drain over in-session
      or test-sized input), so there is no evidence of scale and the
      smallest multi-partition layout is right.
    - A landing that is given but shows no locally visible parquet
      bytes (an empty dir, an object-store URI, an unreadable path)
      returns ``None``. Here a replay exists but its volume is unknown
      and may be cluster scale: flooring it would cram that state into
      2 stores. ``None`` means "no information" — the caller must
      leave the session's ``spark.sql.shuffle.partitions`` (its
      cluster-sized posture) in place, which :func:`drain_conf` does.

    Results are partition-count-invariant — this knob moves only
    physical parallelism and commit count."""
    env = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS")
    if env:
        # validate up front (r14 advisor): a non-numeric override used
        # to surface only later inside spark.conf.set, far from its
        # cause
        try:
            if int(env) <= 0:
                raise ValueError(env)
        except ValueError:
            raise ValueError(
                "SPARK_GRAFT_STATE_PARTITIONS must be a positive "
                f"integer, got {env!r}"
            ) from None
        return env
    total = 0
    if landing:
        for root, _dirs, files in os.walk(landing):
            for fn in files:
                if fn.endswith(".parquet"):
                    try:
                        total += os.path.getsize(os.path.join(root, fn))
                    except OSError:
                        pass
    if landing and total == 0:
        print(
            f"state_partitions: no local parquet bytes under "
            f"{landing!r}; leaving session shuffle.partitions in place "
            "(set SPARK_GRAFT_STATE_PARTITIONS to size state stores "
            "explicitly)",
            file=sys.stderr,
        )
        return None
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    return str(max(2, min(2 * cores, -(-total // (64 << 20)))))


@contextmanager
def drain_conf(
    spark: SparkSession,
    landing: str | None = None,
    no_data_batches: bool = True,
):
    """Set/restore context for a stateful streaming drain: RocksDB
    state store + changelog checkpointing + state partitions sized to
    the drain's replay volume (:func:`state_partitions`; state
    partitions pin to shuffle.partitions at the FIRST checkpoint, so
    callers use a fresh checkpoint per drain and the setting always
    takes). Every key it sets is restored to its prior value on exit,
    including when the drain raises, so batch work that follows keeps
    the session defaults.

    ``no_data_batches=False`` disables the engine's trailing no-data
    micro-batch for drains whose OUTPUT it cannot change: an
    availableNow drain runs one extra empty batch after the last file
    purely to advance the watermark — that batch pays full per-batch
    planning + a commit of every state store (the r15 open record
    clocked it at 0.7-1.1 s on the join drains) and matters only to
    queries that EMIT on watermark passage (append-mode windowed aggs,
    outer-join NULL extension). For inner joins (emit on match) and
    never-finalizing update-mode rollups it is pure overhead. Callers
    must leave it True wherever the final watermark flush produces
    rows; True leaves the key untouched."""
    wanted = {
        # None (non-local landing, see state_partitions): keep the
        # session's shuffle.partitions
        _SHUFFLE_PARTITIONS: state_partitions(
            landing, cores=spark.sparkContext.defaultParallelism
        ),
        _PROVIDER: ROCKSDB_PROVIDER,
        _CHANGELOG: "true",
        _NO_DATA_BATCHES: None if no_data_batches else "false",
    }
    old = {}
    try:
        for k, v in wanted.items():
            if v is None:
                continue  # never set, nothing to restore
            try:
                old[k] = spark.conf.get(k)
            except Exception:
                old[k] = None
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: landing-path -> parquet schema (r15): every drain needs its
#: landing's schema for readStream, and `spark.read.parquet(..)
#: .schema` is a footer-listing driver job paid INSIDE a timed drain —
#: landings are written once and never change, so one footer read per
#: landing is the honest cost
_LANDING_SCHEMA: dict = {}


def landing_schema(spark: SparkSession, path: str):
    """The parquet schema of an immutable landing dir, read once."""
    if path not in _LANDING_SCHEMA:
        _LANDING_SCHEMA[path] = spark.read.parquet(path).schema
    return _LANDING_SCHEMA[path]


def stamp_replay_order(groups: list[list[str]]) -> None:
    """Give the files of each group one mtime, strictly increasing from
    group to group and past-dated (never ahead of the clock). A file
    stream source takes files in modification-time order, so the
    landing replays its groups in the given order in every run; files
    written by parallel tasks otherwise land in whatever order the
    tasks finished."""
    base = int(time.time()) - 3600
    for i, group in enumerate(groups):
        for path in group:
            os.utime(path, (base + 10 * i, base + 10 * i))


def progress_detail(q, wall_s: float | None = None) -> dict:
    """Decompose a finished StreamingQuery's progress events into the
    bench-readable shape: per-batch wall (triggerExecution) and input
    rows, total state-store commit time — so a slow drain is
    attributable to machinery (many batches, fixed commit cost) vs
    data (few big batches) from the record alone.

    ``wall_s=None`` means the drain ran CONCURRENTLY with siblings and
    has no isolated wall of its own: the wall is then this drain's OWN
    busy time (the sum of its batch walls). Best-effort: a progress
    read failure yields a partial record, never a failed drain."""
    batch_ms, batch_rows, commit_ms = [], [], 0
    try:
        for p in q.recentProgress:
            dur = p.get("durationMs") or {}
            batch_ms.append(int(dur.get("triggerExecution", 0)))
            batch_rows.append(int(p.get("numInputRows", 0)))
            for so in p.get("stateOperators") or []:
                commit_ms += int(so.get("commitTimeMs", 0))
    except Exception:
        pass
    if wall_s is None:
        wall_s = sum(batch_ms) / 1000.0
    return {
        "wall_s": round(wall_s, 3),
        "n_batches": len(batch_ms),
        "batch_ms": batch_ms,
        "batch_rows": batch_rows,
        "state_commit_ms": commit_ms,
        "input_rows": sum(batch_rows),
    }


def drain(
    df: DataFrame,
    checkpoint: str,
    *,
    fmt: str = "memory",
    output_mode: str = "append",
    landing: str | None,
    query_name: str | None = None,
    no_data_batches: bool = True,
) -> dict:
    """Drain streaming ``df`` to the ``fmt`` sink with an availableNow
    trigger under :func:`drain_conf`, and return its
    :func:`progress_detail`. ``wall_s`` runs from ``start()`` returning
    to termination — the span bench records have always timed, so
    drain walls stay comparable across records. ``query_name`` names a
    ``memory`` sink's table."""
    with drain_conf(
        df.sparkSession, landing=landing, no_data_batches=no_data_batches
    ):
        writer = (
            df.writeStream.format(fmt)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
        )
        if query_name is not None:
            writer = writer.queryName(query_name)
        q = writer.start()
        t0 = time.perf_counter()
        q.awaitTermination()
        return progress_detail(q, time.perf_counter() - t0)
