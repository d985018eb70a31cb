"""Custom stateful streaming operator: per-key running aggregate via
``applyInPandasWithState`` (Arrow-batched — the fast Python path).

This is the one genuinely stateful capability in the engine (SURVEY.md
§7 "hard parts"): the reference keeps cross-slice executor state —
resumable iterator positions carried between ``Execute()`` calls
(query/executor/executor.go:207-237, pendingCompletionNodes) — so a
query's partial progress survives time slices. Spark's equivalent of
"state that outlives a micro-batch" is the state store, surfaced to
Python as ``applyInPandasWithState``.

``running_aggregate`` maintains (count, sum, min, max) per key across
ALL micro-batches and emits the updated totals for keys touched in each
batch — e.g. a live per-series datapoint counter over an ingest stream.

Scale posture: state is partitioned by the grouping key across
executors (RocksDB-backed state store on real clusters); each batch
shuffles only that batch's rows; state size is O(distinct keys), not
O(rows). A GroupStateTimeout can evict idle keys for unbounded key
spaces.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from boostdb_spark.operators.timeseries import ewma_running

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("vmin", DoubleType()),
        StructField("vmax", DoubleType()),
    ]
)


def _output_schema(key_cols: Sequence[str]) -> StructType:
    return StructType(
        [StructField(k, StringType()) for k in key_cols]
        + [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
            StructField("vmin", DoubleType()),
            StructField("vmax", DoubleType()),
        ]
    )


def running_aggregate(
    df: DataFrame,
    key_cols: Sequence[str] = ("series",),
    value_col: str = "value",
) -> DataFrame:
    """Streaming per-key running (count, sum, min, max), updated and
    emitted each micro-batch the key appears in.

    Keys are cast to string in the output schema (deterministic and
    join-backable); the value column must be numeric.
    """
    key_cols = list(key_cols)
    out_schema = _output_schema(key_cols)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, total, vmin, vmax = state.get
        else:
            n, total, vmin, vmax = 0, 0.0, None, None
        for pdf in pdfs:
            v = pdf[value_col].dropna()
            if len(v) == 0:
                continue
            n += int(len(v))
            total += float(v.sum())
            bmin, bmax = float(v.min()), float(v.max())
            vmin = bmin if vmin is None else min(vmin, bmin)
            vmax = bmax if vmax is None else max(vmax, bmax)
        state.update((n, total, vmin, vmax))
        row = {k: [str(kv)] for k, kv in zip(key_cols, key)}
        row.update({"n": [n], "total": [total], "vmin": [vmin], "vmax": [vmax]})
        yield pd.DataFrame(row)

    grouped = df.groupBy(*key_cols)
    return grouped.applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_STATE_SCHEMA = StructType(
    [StructField("ewma", DoubleType()), StructField("n", LongType())]
)


def streaming_ewma(
    df: DataFrame,
    alpha: float,
    key_cols: Sequence[str] = ("series",),
    value_col: str = "value",
    ts_col: str = "ts",
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Streaming per-key EWMA: the sequential recursion of
    operators/timeseries.ewma_rows carried ACROSS micro-batches in the
    state store — s_0 = v_0, s_i = alpha*v_i + (1-alpha)*s_{i-1}, with
    exactly the batch fold's arithmetic, so once the stream drains the
    final state bit-matches ewma_final on the same rows.

    Rows are folded in (ts, *order_extra) order WITHIN each micro-batch;
    cross-batch correctness requires the source to deliver batches in
    time order (true for time-partitioned landing directories and for
    per-key-partitioned Kafka — the same assumption every streaming
    EWMA/irate implementation makes). State is O(1) per key: (ewma, n).
    """
    key_cols = list(key_cols)
    order_cols = [ts_col, *order_extra]
    a = float(alpha)
    out_schema = StructType(
        [StructField(k, StringType()) for k in key_cols]
        + [StructField("ewma", DoubleType()), StructField("n", LongType())]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ew, n = state.get
        else:
            ew, n = None, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(order_cols, kind="mergesort")
        # one exact float64 -> float materialization, then the batch
        # fold's own loop: the state bit-matches ewma_final
        vals = batch[value_col].to_numpy(dtype="float64").tolist()
        if vals:
            ew = ewma_running(vals, a, ew if n else None)[-1]
        n += len(vals)
        state.update((ew, n))
        row = {k: [str(kv)] for k, kv in zip(key_cols, key)}
        row.update({"ewma": [ew], "n": [n]})
        yield pd.DataFrame(row)

    return df.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: bucket column the bucketed state tables partition by — readers of a
#: state dir drop it (it is an internal layout column, not view data)
BUCKET_COL = "_bucket"


def touched_buckets(batch_df: DataFrame, n_buckets: int) -> list[int]:
    """Distinct ``BUCKET_COL`` values present in a (bucketed) batch.
    The collect is bounded by ``n_buckets`` ints of driver traffic
    regardless of batch size — the partition-pruning literal list."""
    return [
        r[BUCKET_COL]
        for r in batch_df.select(BUCKET_COL).distinct().collect()
    ]


def merge_upsert_bucket(
    batch_df: DataFrame,
    state_dir: str,
    key_cols: Sequence[str],
    ts_col: str,
    order_extra: Sequence[str] = (),
    n_buckets: int = 32,
) -> None:
    """One micro-batch of the BUCKETED keyed-latest merge (the body of
    :func:`upsert_view`, exposed so tests can drive crafted batches
    through the exact production path). I/O per batch is
    O(state in touched buckets + batch), never O(|state|):

    - the batch is bucketed by ``pmod(hash(keys), n_buckets)``;
    - ONLY the buckets the batch touches are read back from the state
      table (partition pruning on the ``_bucket`` directory column);
    - the merged latest-per-key result dynamically overwrites ONLY
      those bucket partitions — untouched buckets' files are neither
      read nor rewritten (pinned by an I/O-shape test).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = list(key_cols)
    spark = batch_df.sparkSession
    bcol = F.pmod(F.hash(*keys), F.lit(n_buckets)).cast("int")
    batch = batch_df.withColumn(BUCKET_COL, bcol)
    touched = touched_buckets(batch, n_buckets)
    if not touched:
        return
    try:
        cur = spark.read.parquet(state_dir).filter(
            F.col(BUCKET_COL).isin(touched)
        )
        allr = cur.unionByName(batch)
    except Exception:  # first batch: no state yet
        allr = batch
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in order_extra]
    w = Window.partitionBy(*keys).orderBy(*order)
    latest = (
        allr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        # cluster by bucket before the partitioned write: without this
        # every window task (shuffle.partitions of them) writes a file
        # into EVERY touched bucket dir — tasks x buckets files per
        # batch, a file-count explosion at any scale; clustered, each
        # bucket gets ~1 file per batch
        .repartition(F.col(BUCKET_COL))
        .localCheckpoint()  # materialize BEFORE overwriting the input
    )
    (
        latest.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL)
        .parquet(state_dir)
    )


def upsert_view(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    state_dir: str,
    checkpoint: str,
    order_extra: Sequence[str] = (),
    query_name: str | None = None,
    n_buckets: int = 32,
):
    """Streaming UPSERT materialized view: maintain a keyed
    latest-state parquet table from a stream — the
    materialized-view/CDC-apply pattern (what MERGE INTO does on
    transactional formats, expressed on plain parquet). Each
    micro-batch merges into the persisted state: union the TOUCHED
    hash-buckets of current state with the batch, keep ONE row per key
    by (ts DESC, *order_extra DESC) — ties broken deterministically —
    and dynamically overwrite only those bucket partitions
    (:func:`merge_upsert_bucket`). Returns the started StreamingQuery;
    read ``state_dir`` after termination for the view and DROP the
    internal ``_bucket`` partition column.

    Scale contract (the r8-verdict fix): the old pattern read and
    rewrote the WHOLE state table every micro-batch — O(|state|) I/O
    per trigger, ruinous when billions of keys dwarf each batch. With
    hash-bucketed state, per-batch I/O is
    ``touched_buckets x bucket_size ~= batch_keys x |state|/n_buckets``
    — size ``n_buckets`` so a bucket holds a few hundred MB
    (|keys|/n_buckets rows) and each batch costs a small multiple of
    its own size regardless of total state. Keys of one bucket always
    hash together, so latest-per-key stays correct under any batch
    split; the merged result localCheckpoints before the overwrite
    (you cannot overwrite parquet a running plan still reads)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert_bucket(
            batch_df, state_dir, key_cols, ts_col, order_extra, n_buckets
        )

    writer = (
        stream_df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()


#: streaming LOCF state: the last non-null observation per key
LOCF_STATE_SCHEMA = StructType([StructField("last", DoubleType())])


def streaming_locf(
    df: DataFrame,
    key_cols: Sequence[str] = ("series",),
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Streaming gap-fill (LOCF): carry each key's last non-null
    observation forward ACROSS micro-batches in the state store and
    emit every input row with its filled value — the streaming
    counterpart of operators/timeseries.gapfill_locf and the dialect's
    ``last_value(v) IGNORE NULLS`` idiom.

    Unlike the aggregate-state patterns (running_aggregate,
    streaming_ewma — O(1) state, one row per key per batch), this is a
    per-ROW stateful TRANSFORM: output cardinality equals input
    cardinality, each row emitted exactly once with the fill decided
    by rows seen so far. State is one nullable double per key; rows
    fold in (ts, *order_extra) order within each batch, and cross-batch
    correctness needs time-ordered batch delivery (time-partitioned
    landing dirs / per-key-partitioned Kafka — the LOCF contract).
    Once the stream drains, the union of emitted rows bit-matches the
    batch last_value(... IGNORE NULLS) window on the same rows.

    Scale: state store partitions by key across executors; per batch
    the work is one shuffle of that batch's rows + an Arrow-batched
    linear scan per key group. Nothing re-reads history.
    """
    key_cols = list(key_cols)
    order_cols = [ts_col, *order_extra]
    out_schema = StructType(
        [StructField(k, StringType()) for k in key_cols]
        + [
            StructField(id_col, LongType()),
            StructField("filled", DoubleType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last = state.get[0] if state.exists else None
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(order_cols, kind="mergesort")
        filled = []
        for v in batch[value_col]:
            if pd.notna(v):
                last = float(v)
            filled.append(last)
        state.update((last,))
        out = {k: [str(kv)] * len(batch) for k, kv in zip(key_cols, key)}
        out[id_col] = batch[id_col].astype("int64").tolist()
        out["filled"] = filled
        yield pd.DataFrame(out)

    return df.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=LOCF_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
