"""Shared operator plumbing."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: storage class used by checkpoint_corpus; exported so the bench
#: record's posture fingerprint is derived from the code, not retyped
CORPUS_CHECKPOINT_LEVEL = "DISK_ONLY"


def no_broadcast(df: DataFrame) -> DataFrame:
    """Pin a CORPUS-SCALED relation out of static broadcast planning.

    Catalyst's size estimate does not grow through explode/generate:
    a shingle or band table exploded from a 35 MB documents scan is
    still "35 MB" to the planner, so with any finite
    autoBroadcastJoinThreshold the static plan happily broadcasts a
    relation that is GBs in memory — the sf10 probe caught
    dedup_minhash_lsh dying exactly this way ("Not enough memory to
    build and broadcast", 500k docs x 16 bands hashed-relation on an
    8g driver) while sf0.1/sf1 fit by luck.

    Enforcement is layered. This engine's sessions (session.py) turn
    STATIC estimate-based broadcasts off entirely
    (autoBroadcastJoinThreshold=-1) and let AQE convert to broadcast
    at runtime from ACTUAL post-shuffle sizes
    (adaptive.autoBroadcastJoinThreshold=64m) — fast wherever the
    data genuinely fits, immune to estimate lies at any scale; in
    such a session this marker is a NO-OP so AQE keeps the freedom
    to upgrade a genuinely-small side (measured: a merge hint would
    BLOCK the runtime conversion and cost 1.5-3x at bench SF). In a
    FOREIGN session that still allows static estimate-based
    broadcasts, the marker degrades to a merge hint — a hard
    sort-merge pin (AQE does not override user hints), trading the
    small-SF broadcast win for a plan that cannot OOM. Apply to every
    join side that scales with the corpus (exploded
    shingles/tokens/bands, per-doc size tables, candidate-pair
    tables); leave genuinely bounded sides (centroid tables,
    dimension lookups, single-row stats) to the optimizer."""
    try:
        static = df.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        )
    except Exception:
        static = None
    if static in ("-1", "-1b"):
        return df  # static estimate-based broadcast already impossible
    return df.hint("merge")


def checkpoint_corpus(df: DataFrame, eager: bool = False) -> DataFrame:
    """localCheckpoint a CORPUS-SCALED intermediate at DISK_ONLY.

    Plain ``localCheckpoint`` stores partitions MEMORY_AND_DISK
    *deserialized*: an exploded shingle/band/vector stream checkpointed
    that way pins multiples of its on-disk size in executor heap — the
    sf10 probe OOM'd an 8g heap exactly there (stage materializing the
    banded-signature checkpoint: 8 concurrent tasks each allocating
    ~256 MB block buffers, GCLocker retry storm, then Java heap
    space). DISK_ONLY keeps the materialize-once/GC-cleaned semantics
    (the reason these sites use localCheckpoint at all: a .cache()
    leaks storage blocks across a long session) while the blocks
    stream to local disk — sequential write + read, zero heap pinned,
    the only storage class that survives any corpus:executor-memory
    ratio. Use for every checkpoint whose row count scales with the
    corpus; small bounded intermediates (candidate pairs, label
    tables) keep the default level."""
    from pyspark import StorageLevel

    level = getattr(StorageLevel, CORPUS_CHECKPOINT_LEVEL)
    return df.localCheckpoint(eager=eager, storageLevel=level)


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism before CPU-heavy
    per-row work. A small input (one parquet file -> one partition)
    would otherwise pin the whole computation to a single core; at real
    scale the scan already has >= defaultParallelism partitions and
    this is a no-op."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def topk_per_group(
    df: DataFrame,
    k: int,
    group_cols: Sequence[str],
    order_col: str,
    ascending: bool = False,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Top-k rows per group (e.g. top series per time bucket, nearest
    matches per query).

    row_number over a per-group window: single shuffle, no global sort.
    Deterministic via explicit tiebreak columns (ascending).
    """
    oc = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    order = [oc, *[F.col(c).asc() for c in tiebreak]]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
