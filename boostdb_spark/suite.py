"""Coverage suite: one entry per operator family from SURVEY.md section 2.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
ANSI-SQL oracle string DuckDB runs on the same parquet tables. The driver
hash-compares them at sf=0.01 (order-insensitive, columns sorted by name),
so both sides alias every computed column identically.

Numeric-determinism rules used throughout (so hashes match bit-for-bit):

- Row-level arithmetic (+,-,*,/ on the same doubles) is IEEE-deterministic
  in both engines -> no rounding needed.
- SUMs of doubles depend on accumulation order -> both sides cast to
  DECIMAL first (exact integer arithmetic, order-independent).
- A DECIMAL accumulator must NEVER reach the output: Spark ships
  Decimal objects through Arrow where DuckDB ships float64 — equal
  values, different representations, different driver hashes (10
  round-1 queries failed exactly this). Cast every final decimal sum
  to DOUBLE on BOTH sides; verify.py is representation-strict to
  catch regressions locally.
- AVG is computed as CAST(decimal-sum AS DOUBLE)/count on both sides —
  exact, order-independent, no rounding boundary to straddle. STDDEV is
  rounded (2 places); its FP noise is far below the rounding step.
- Timestamps never cross the boundary raw: the ns-native ``events.ts``
  (INT64 under nanosAsLong) is matched with DuckDB ``epoch_ns(ts)``.
- DuckDB ``sum(INTEGER)`` is INT128 while Spark's is LONG -> wrap the
  oracle side in ``CAST(... AS BIGINT)`` (conditional-count idiom).
- Squares of quantized integers can exceed 2^53 (a 1e-6-grid residual
  of ~300 squares to ~9e16): sum them as
  ``CAST(q AS DECIMAL(18,0)) * CAST(q AS DECIMAL(18,0))`` — exact in
  both engines — and cast the final sum to DOUBLE (pipeline_anomaly).
- ``floor()`` returns LONG in Spark and DOUBLE in DuckDB: safe inside
  further arithmetic (long/double coerces) and as a DECIMAL cast
  input, but never emit a bare floor() as an output column without a
  shared cast.

Query set mirrors SURVEY.md section 2: the reference's IMPL surface
(scan/project/where, section 2.1-2.2), its declared-but-stub surface
(joins section 2.3, aggregation section 2.4, order/limit/set-ops
section 2.5), and the north-star time-series functions (section 2.6 /
build-plan phase 4).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from boostdb_spark.operators import timeseries as ts_ops
from boostdb_spark.plans.sugar import SeriesFamilyBinding
from boostdb_spark.plans import sugar
from boostdb_spark.session import load_tables
from boostdb_spark.streaming.drain import (
    drain,
    drain_conf,
    landing_schema,
    progress_detail,
    stamp_replay_order,
)


def _ns_events(t) -> DataFrame:
    """events with ts as INT64 ns regardless of the fixture's physical
    type (the driver has shipped it both as TIMESTAMP(NANOS) parquet —
    long under nanosAsLong — and as timestamp[us]). Bucket arithmetic
    downstream is pure integer math either way, matching the DuckDB
    oracle's epoch_ns() bit-for-bit."""
    from boostdb_spark.functions.scalar import ts_ns

    ev = t["events"]
    if dict(ev.dtypes)["ts"] not in ("bigint", "long"):
        ev = ev.withColumn("ts", ts_ns(ev, "ts"))
    return ev


def ts_lit(df, ns: int, col: str = "ts"):
    from boostdb_spark.functions import scalar

    return scalar.ts_lit(df, ns, col=col)


def _ts_us(df, col: str = "ts"):
    """INT64 µs from a ts column of either representation — matches the
    oracle's epoch_us(ts)."""
    dt = dict(df.dtypes)[col]
    if dt in ("bigint", "long"):
        from boostdb_spark.functions.scalar import ns_to_micros

        return ns_to_micros(col)
    return F.unix_micros(F.col(col).cast("timestamp"))


def _ts_t(df, col: str = "ts"):
    """TimestampType(µs) from a ts column of either representation."""
    dt = dict(df.dtypes)[col]
    if dt in ("bigint", "long"):
        from boostdb_spark.functions.scalar import ns_to_timestamp

        return ns_to_timestamp(col)
    return F.col(col)


def _ts_events(t) -> DataFrame:
    """events with ts as a µs TIMESTAMP from either representation —
    the type event-time watermarks require."""
    ev = t["events"]
    return ev.withColumn("ts", _ts_t(ev).cast("timestamp"))

# Implicit time range for the flagship query: [2024-01-05, 2024-01-20) UTC,
# in nanoseconds — the reference passes start/end programmatically, never
# in SQL (query/executor/executor.go:145-147).
S_NS = 1_704_412_800 * 10**9
E_NS = 1_705_708_800 * 10**9

EVENTS_BINDING = SeriesFamilyBinding(
    view="events", series_col="event_type", value_col="value", ts_col="ts"
)

QueryFn = Callable[[SparkSession, str], DataFrame]
_REGISTRY: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def _q(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn

    return deco


# The driver hash-checks only the FIRST 50 registered queries, so the
# exported dict order is curated: _WINDOW lists 50 representatives
# spanning every operator family in SURVEY.md section 2 plus the
# LLM-pipeline families (dedup / text / sampling / similarity /
# curation); everything else follows in registration order and keeps
# its local-gate coverage (tests/test_suite_oracle.py runs ALL
# entries). Rotation policy: never-certified entries lead (hard
# signal first), then the standing canaries, then re-certification
# slots refreshing the STALEST cumulative vintage — since round 13
# (ledger closed at 292/292 ever-checked) the window's whole job is
# recency: no entry's last driver check should age past ~6 rounds.
# agg_approx_count_distinct / agg_approx_quantiles are oracle-less
# (approx by design) with driver-green history — below the fold.
_WINDOW: tuple[str, ...] = (
    # CHANGED CODE FIRST — the time-series operators that now share one
    # exact bucket mean (NULL values dropped first), one bucket-sorted
    # list, one Pearson fold, one interpolated quantile and one EWMA
    # recursion (operators/timeseries.py), then the entries whose
    # series window or 1e-6 grid became the shared helper, the PCA
    # entries whose covariance pass now projects its dot once, the
    # series-family entries, the dedup and vector canaries, the
    # standing dialect canaries and the streaming-drain cohort.
    "ts_series_correlation",  # bucket mean + Pearson fold
    "ts_autocorr",            # bucket mean + Pearson fold
    "ts_linear_trend",        # bucket mean + bucket list
    "ts_holt_winters",        # bucket mean + bucket list
    "ts_cusum_changepoint",   # bucket mean + bucket list
    "ts_pattern_topk",        # bucket mean + bucket list
    "ts_seasonal_decompose",  # quantized bucket mean
    "ts_quantile_over_time",  # sorted bucket values + interpolation
    "ts_mad",                 # sorted bucket values + interpolation
    "ts_ewma",                # seeded EWMA fold
    "ts_ewma_rows",           # the one Python EWMA loop, bucketed
    "ts_ewma_bucketed",       # affine bucket summaries
    "stream_ewma_parity",     # streaming_ewma runs the same loop
    "ts_irate",               # counter branch
    "ts_lttb",                # exact mean
    "gapfill_locf", "gapfill_interp",  # one series window
    "ts_changes_resets", "ts_drawdown", "ts_sma_crossover",
    "ts_bollinger", "ts_bollinger_wide",  # 1e-6 grid, series window
    "ts_sessionize", "ts_moving_time_avg", "ts_histogram_quantile",
    "emb_pca_certified",      # covariance pass
    "emb_abtt_certified",
    "emb_whiten",
    "stream_locf_parity",
    "flagship_series_scan",   # scan + dialect front + implicit range
    "seriesfamily_roundtrip",  # batch-written family: write + fetch
    "stream_ingest_parity",   # stream-written family: stream_write
    "agg_groupby_q1",         # grouped aggregation
    "dedup_exact", "dedup_groups", "dedup_minhash_lsh", "dedup_keep_best",
    "txt_bm25_topk", "pipeline_hybrid_rrf",
    "emb_cosine_topk", "emb_knn_graph", "ann_recall_certified",
    "dedup_semantic",
    "dialect_agg_expr", "dialect_cte", "dialect_join",
    "stream_session_parity", "stream_sliding_parity",
    "stream_upsert_parity", "window_sliding_agg",
    # ROTATION PREP — queued next: the vector, dedup, dialect and
    # streaming entries that made room for the time-series operators
    # (emb_range_search, emb_mmr_rerank, emb_outliers,
    # ann_range_certified, ann_append_certified, txt_tfidf_topk,
    # dedup_incremental, dedup_levenshtein, dedup_levenshtein_capped,
    # dialect_grouping_sets, dialect_join_multi, dialect_join_theta,
    # dialect_limit_ties, dialect_pivot_sum, dialect_select_scalar_sub,
    # dialect_subquery, dialect_unpivot, dialect_using, dialect_values,
    # dialect_frame_exclude, window_session_agg, stream_batch_parity,
    # stream_cascade_parity), then the dialect canaries and n-gram pair
    # finders
    # (dedup_ngram_jaccard_capped, dedup_containment, doc_source_overlap,
    # dialect_arg_minmax, dialect_bool_agg, dialect_exists,
    # dialect_filter_agg, dialect_group_all, dialect_group_expr,
    # dialect_join_full, dialect_join_left, dialect_join_multikey,
    # dialect_join_right, dialect_nulls_order, dialect_string_agg),
    # then scan_time_sliced, dialect_params,
    # dialect_window and dialect_asof_join (left the window for the
    # dedup pair finders), dialect_sample and dialect_lateral_tokenize,
    # stream_retention_parity and stream_dedup_parity,
    # the r15 cohort (stream_rollup_parity,
    # stream_join_parity, stream_outer_join_parity), then the ROUND-8
    # remainder: agg_unpivot, dedup_decontaminate, dedup_ngram_jaccard,
    # dialect_qualify,
    # dialect_select_star, distinct_series, scan_hive_partition_prune,
    # scan_schema_evolution, scan_snapshot_apply, subquery_exists,
    # time_bucket_agg, ts_interp_align,
    # ts_m4_downsample, txt_redact_pii,
    # udaf_grouped_range, where_ops, window_moving_avg,
    # window_navigation, window_rank_ntile, window_running_sum; then
    # the ROUND-9 cohort in name order.
)

#: window entries the driver checks ROWS-ONLY (no SQL oracle by
#: design). Empty while no oracle-less entry is windowed; a windowed
#: one needs its hash-gated certificate sibling in the same window
#: (pinned by tests/test_suite_oracle.py).
_ROWS_ONLY_WINDOWED: frozenset[str] = frozenset()


def _ordered(d: dict) -> dict:
    head = {n: d[n] for n in _WINDOW if n in d}
    return head | {n: v for n, v in d.items() if n not in head}


def spark_queries() -> dict[str, QueryFn]:
    return _ordered(_REGISTRY)


def oracle_queries() -> dict[str, str]:
    return _ordered(_ORACLE)


# ===========================================================================
# 2.1/2.2 — the reference's IMPLEMENTED surface: scan, projection with name
# sugar, WHERE with the 8 comparison/logical ops, implicit time range
# ===========================================================================


@_q(
    "flagship_series_scan",
    f"""
    SELECT user_id, value FROM events
    WHERE event_type = 'click' AND value < 100.0
      AND epoch_ns(ts) >= {S_NS} AND epoch_ns(ts) < {E_NS}
    """,
)
def flagship_series_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's e2e test query re-expressed through our dialect
    front: `SELECT cpu_utilization.host, cpu_utilization FROM d.sf WHERE
    cpu_utilization < 100.0` (query/executor/executor_test.go:188) with
    the 'click' series standing in for cpu_utilization and user_id for
    the host attribute. Exercises parse -> sugar resolution -> implicit
    time range -> Catalyst pushdown."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.user_id, click FROM boost.events WHERE click < 100.0",
        EVENTS_BINDING,
        start=S_NS,
        end=E_NS,
    )


@_q(
    "dialect_params",
    f"""
    SELECT user_id, value FROM events
    WHERE event_type = 'click' AND value < 42.5
      AND epoch_ns(ts) >= {S_NS} AND epoch_ns(ts) < {E_NS}
    """,
)
def dialect_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query with the threshold as a ``:thr`` placeholder
    bound at plan time — the reference's named-literal parameterized
    re-execution (query/base/literalintexpression.go:9-113 Evaluate(arg)
    binds the hole; expressionstate.go:6-19 carries it). One parsed
    query, fresh literal per run, same pushed-filter plan."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.user_id, click FROM boost.events WHERE click < :thr",
        EVENTS_BINDING,
        start=S_NS,
        end=E_NS,
        params={"thr": 42.5},
    )


@_q(
    "scan_time_sliced",
    f"""
    SELECT event_id, user_id, value FROM events
    WHERE event_type = 'click' AND value < 100.0
      AND epoch_ns(ts) >= {S_NS} AND epoch_ns(ts) < {E_NS}
    """,
)
def scan_time_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's time-sliced execution loop (executor.go:239-252
    advances an executionWindowSize window until endTime;
    streaming/slices.py::time_slices) driven over the flagship scan:
    the span splits into four slices, each a partition-prunable
    pushed-filter scan, and the union of the slices must equal the
    one-shot full-range query. Each slice predicate reaches parquet,
    so iterating every slice reads each byte once."""
    from functools import reduce

    from boostdb_spark.streaming.slices import time_slices

    t = load_tables(spark, sf_dir)
    base = t["events"].filter(
        (F.col("event_type") == "click") & (F.col("value") < 100.0)
    ).select("event_id", "user_id", "value", "ts")
    window_ns = (E_NS - S_NS) // 4
    parts = [
        sdf.select("event_id", "user_id", "value")
        for _lo, _hi, sdf in time_slices(base, S_NS, E_NS, window_ns)
    ]
    return reduce(lambda a, b: a.unionAll(b), parts)


#: (applicationId, sf_dir) combos whose paged-export directory exists
_PAGES_WRITTEN: set = set()


@_q(
    "scan_paged_export",
    f"""
    SELECT CAST((epoch_ns(ts) - {S_NS}) // {(E_NS - S_NS) // 5} AS BIGINT)
             AS slice_id,
           event_id, epoch_us(ts) AS ts_us, value
    FROM events
    WHERE epoch_ns(ts) >= {S_NS} AND epoch_ns(ts) < {E_NS}
    """,
)
def scan_paged_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED paged/resumable execution — the reference's
    Execute()-until-done paging loop (executor.go:207-237 saves result
    positions; examples/basic_client/main.go:211-250 drives it) as a
    MATERIALIZED page export: streaming/slices.py::execute_sliced cuts
    the flagship span into five 3-day slices and the callback lands
    each slice as its own ``slice_id=<i>`` parquet page (the
    incremental-export / per-window-checkpoint shape — a crashed loop
    resumes at the first missing page). The certified result reads the
    pages BACK through partition discovery: every row of the one-shot
    range scan must appear in exactly the page its timestamp maps to,
    so a dropped page, an overlapping slice boundary, or a row filed
    under the wrong slice flips the hash. This upgrades the §2.6
    paging row from pytest-only equivalence (the one evidence gap the
    round-4 verdict called un-gateable) to hard driver signal. Page
    writes are ingest-time work, once per session+SF like the other
    layouts; each slice's predicate reaches parquet, so the export
    reads each byte once."""
    import os
    from urllib.parse import urlparse

    from boostdb_spark.streaming.slices import export_pages

    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_id", "ts", "value")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app_id = spark.sparkContext.applicationId
    base = os.path.join(wh, f"suite_pages_{tag}_{app_id}")
    w_ns = (E_NS - S_NS) // 5
    key = (app_id, sf_dir)
    # check every PAGE dir, not just base: a partially-deleted layout
    # (racing GC's non-atomic rmtree, crash mid-delete) must rebuild,
    # not serve 4/5 pages forever
    pages_paths = [os.path.join(base, f"slice_id={i}") for i in range(5)]
    if not layout_ready(_PAGES_WRITTEN, key, *pages_paths):
        gc_stale_layouts(wh, "suite_pages_")
        n, _written = export_pages(ev, base, S_NS, E_NS, w_ns)
        if n != 5:
            raise RuntimeError(
                f"scan_paged_export: expected 5 slices, ran {n}"
            )
        _PAGES_WRITTEN.add(key)
    touch_layout(base)
    pages = spark.read.parquet(base)
    return pages.select(
        F.col("slice_id").cast("long").alias("slice_id"),
        "event_id", _ts_us(pages).alias("ts_us"), "value",
    )


@_q(
    "scan_snapshot_diff",
    """
    WITH o AS (
      SELECT event_id,
             value + (CASE WHEN event_id % 3 = 0 THEN 1.0 ELSE 0.0 END)
               AS value
      FROM events WHERE event_id % 5 <> 0
      UNION ALL
      SELECT event_id + 1000000000, value FROM events
      WHERE event_id % 11 = 0
    ),
    n AS (SELECT event_id, value FROM events)
    SELECT COALESCE(o.event_id, n.event_id) AS event_id,
           CASE WHEN o.event_id IS NULL THEN 'insert'
                WHEN n.event_id IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           o.value AS old_value, n.value AS new_value
    FROM o FULL JOIN n ON o.event_id = n.event_id
    WHERE o.event_id IS NULL OR n.event_id IS NULL
       OR o.value IS DISTINCT FROM n.value
    """,
)
def scan_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot change capture (operators/joins.py
    snapshot_diff): a synthetic prior version of the events table —
    every fifth row missing (becomes ``insert``), every third value
    bumped (becomes ``update``), phantom rows added (become
    ``delete``) — diffed against the current table. ONE full-outer
    sort-merge join on the key with null-safe payload comparison, no
    driver materialization; on bucketed snapshots even the exchange
    disappears. This is the incremental-maintenance primitive between
    plain-Parquet table versions (what a commit log gives transactional
    formats), certified row-for-row against the oracle's FULL JOIN +
    IS DISTINCT FROM formulation."""
    from boostdb_spark.operators.joins import snapshot_diff

    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_id", "value")
    old = ev.filter(F.col("event_id") % 5 != 0).withColumn(
        "value",
        F.col("value")
        + F.when(F.col("event_id") % 3 == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    phantom = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("event_id") + F.lit(10**9)).alias("event_id"), "value"
    )
    old = old.unionByName(phantom)
    return snapshot_diff(old, ev, keys=["event_id"], compare_cols=["value"])


@_q(
    "scan_snapshot_apply",
    """
    SELECT event_id, value FROM events
    """,
)
def scan_snapshot_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE-INTO half of plain-parquet CDC
    (operators/joins.py::snapshot_apply): the scan_snapshot_diff
    changeset applied BACK onto the synthetic old snapshot — deletes
    drop, updates replace (via an explicit marker, so value->NULL
    updates apply), inserts append — and the result must hash-equal
    the current table exactly: ``apply(old, diff(old, new)) == new``,
    closing the incremental-maintenance loop end to end under the
    driver gate. One anti join + one left join + a union, all
    key-partitioned; bucket both snapshots and the exchanges
    disappear."""
    from boostdb_spark.operators.joins import snapshot_apply, snapshot_diff

    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_id", "value")
    old = ev.filter(F.col("event_id") % 5 != 0).withColumn(
        "value",
        F.col("value")
        + F.when(F.col("event_id") % 3 == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    phantom = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("event_id") + F.lit(10**9)).alias("event_id"), "value"
    )
    old = old.unionByName(phantom)
    d = snapshot_diff(old, ev, keys=["event_id"], compare_cols=["value"])
    return snapshot_apply(old, d, keys=["event_id"], payload_cols=["value"])


@_q(
    "dialect_orderby_limit",
    """
    SELECT event_id AS eid, value AS v FROM events
    WHERE event_type = 'click'
    ORDER BY v DESC, eid ASC LIMIT 20
    """,
)
def dialect_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY (select aliases, mixed directions) + LIMIT through the
    dialect front — the declared-stub OrderBy/Limit surface
    (query/base/expression.go:29-32) end to end. Alias resolution must
    NOT fall through to value sugar (ORDER BY eid orders by event_id,
    not the series value)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, click AS v FROM boost.events "
        "ORDER BY v DESC, eid ASC LIMIT 20",
        EVENTS_BINDING,
    )


@_q(
    "dialect_window",
    f"""
    SELECT user_id, value AS v,
           rank() OVER (PARTITION BY user_id ORDER BY value DESC) AS rnk,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM events
    WHERE event_type = 'click' AND value < 100.0
      AND epoch_ns(ts) >= {S_NS} AND epoch_ns(ts) < {E_NS}
    """,
)
def dialect_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions through the dialect front: ``fn(...) OVER
    (PARTITION BY ... ORDER BY ...)`` parses into a WindowSpec and
    plans onto a Spark Window — the analytic completion of the SQL
    north star ('rich time-series functions' on a SQL-like front,
    reference README.md:8; the reference's parser has no OVER). rank
    handles value ties identically in both engines by definition;
    count(*) OVER is order-free."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.user_id AS user_id, click AS v, "
        "rank() OVER (PARTITION BY click.user_id ORDER BY click DESC) AS rnk, "
        "count(*) OVER (PARTITION BY click.user_id) AS n "
        "FROM boost.events WHERE click < 100.0",
        EVENTS_BINDING,
        start=S_NS,
        end=E_NS,
    )


@_q(
    "dialect_select_star",
    """
    SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value, props
    FROM events WHERE event_type = 'purchase' AND value < 50.0
    """,
)
def dialect_select_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * through the dialect: expands to the bound source's full
    column set (the reference REQUIRES named fields —
    selectfieldparser.go:108-114 — a parity wart lifted here). The
    value-sugar WHERE still series-filters the scan. ts re-emitted as
    µs ints only for the cross-engine hash (suite determinism rules:
    raw timestamps never cross the boundary)."""
    load_tables(spark, sf_dir)
    df = sugar.query(
        spark,
        "SELECT * FROM boost.events WHERE purchase < 50.0",
        EVENTS_BINDING,
    )
    return df.select(
        "event_id", "user_id", "event_type",
        _ts_us(df).alias("ts_us"), "value", "props",
    )


@_q(
    "scan_timerange",
    f"""
    SELECT event_id, epoch_us(ts) AS ts_us, value FROM events
    WHERE epoch_ns(ts) >= {S_NS} AND epoch_ns(ts) < {E_NS}
    """,
)
def scan_timerange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit [start,end) time-range scan (executor.go:239-252) —
    pushed to parquet as ts >= a AND ts < b (PushedFilters). Output ts
    is µs (DuckDB truncates parquet ns timestamps to µs; the engine
    itself keeps full ns precision internally)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    return (
        ev
        .filter((F.col("ts") >= ts_lit(ev, S_NS)) & (F.col("ts") < ts_lit(ev, E_NS)))
        .select("event_id", _ts_us(ev).alias("ts_us"), "value")
    )


@_q(
    "where_ops",
    """
    SELECT event_id, event_type, value FROM events
    WHERE (value >= 100.0 AND value <= 300.0 AND event_type != 'view')
       OR (value < 5.0 AND user_id > 100)
       OR (user_id = 7 AND event_type = 'error')
    """,
)
def where_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 8 WHERE operators the reference implements (=, !=, <, <=, >,
    >=, AND, OR — query/base/logicalexpression.go:10-36) in one
    predicate tree, ANSI coercion (SURVEY.md section 1.2 decision)."""
    t = load_tables(spark, sf_dir)
    v, et, u = F.col("value"), F.col("event_type"), F.col("user_id")
    cond = (
        ((v >= 100.0) & (v <= 300.0) & (et != "view"))
        | ((v < 5.0) & (u > 100))
        | ((u == 7) & (et == "error"))
    )
    return t["events"].filter(cond).select("event_id", "event_type", "value")


@_q(
    "where_extended",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice BETWEEN 50000.0 AND 150000.0
      AND o_orderstatus LIKE 'F%'
      AND o_custkey IS NOT NULL
    """,
)
def where_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT/IN/BETWEEN/LIKE/IS NULL — declared-absent in the reference
    (whereparser.go:146-168 rejects them), completed here per SURVEY
    section 2.2."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(50000.0, 150000.0)
        & F.col("o_orderstatus").like("F%")
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_totalprice")


@_q(
    "projection_compute",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def projection_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed projections — absent in the reference (only column refs
    parse, selectfieldparser.go:90-99); row-level IEEE arithmetic is
    bit-deterministic so no rounding is needed."""
    t = load_tables(spark, sf_dir)
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            "l_linenumber",
            net.alias("net"),
            (net * (F.lit(1) + F.col("l_tax"))).alias("charge"),
        )
    )


# ===========================================================================
# 2.3 — joins (all STUB/ABSENT in the reference: AddJoinOp is an empty body,
# query/base/queryops.go:60-66)
# ===========================================================================


@_q(
    "join_inner",
    """
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 100000.0
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join (joinparser.go:84-201 parses it; body empty).
    customer is broadcast — at 100 TB the fact side never shuffles."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .filter(F.col("o_totalprice") > 100000.0)
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
    )


@_q(
    "join_dims",
    """
    SELECT r_name, n_name, count(*) AS n_cust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dimension chain with broadcast joins; DECIMAL sum for
    order-independent exactness."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_bal"),
        )
    )


#: (applicationId, sf_dir, buckets) combos whose bucketed suite tables
#: already exist in this session's catalog
_BUCKETED_WRITTEN: set = set()

#: sf_dirs whose z-ordered events copy exists for this session
_ZORDER_WRITTEN: set = set()
_FILEFMT_WRITTEN: set = set()
_BLOOM_WRITTEN: set = set()
_HIVEPART_WRITTEN: set = set()
_EVOLVE_WRITTEN: set = set()


def gc_stale_layouts(wh: str, prefix: str, max_age_s: int = 6 * 3600) -> None:
    """Delete OTHER applications' per-app layout dirs under the
    warehouse once they are old enough that no live session can still
    be reading them (per-app dirs prevent cross-session staleness but
    would otherwise accumulate forever). Age-gated on mtime so a
    concurrent session's fresh dir is never touched; errors are
    swallowed (a racing delete is fine — the other deleter won)."""
    import glob
    import os
    import shutil
    import time

    cutoff = time.time() - max_age_s
    for p in glob.glob(os.path.join(wh, f"{prefix}*")):
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def touch_layout(path: str) -> None:
    """Refresh a layout dir's mtime on every read. The GC above is
    mtime-gated, but plain reads never update a directory's mtime — so
    a session outliving ``max_age_s`` would keep serving a per-app dir
    that a CONCURRENT new session's GC is now allowed to delete. Each
    entry that consumes a GC-managed layout touches it first, making
    "active" visible to other sessions' cutoff check.

    RESIDUAL RACE (ADVICE r5, accepted): another session's GC can stat
    the mtime just before this touch and rmtree just after — the
    heartbeat narrows but cannot close the window without cross-process
    locking. The consumer-side mitigation is ``layout_ready`` below:
    every write-once guard re-checks the dir on disk, so a layout lost
    to a racing GC is REBUILT on the next invocation instead of
    failing the entry forever; the single read in flight during the
    delete surfaces as a missing-file error once, then self-heals."""
    import os

    try:
        os.utime(path, None)
    except OSError:
        pass


def session_tmpdir(prefix: str) -> str:
    """``tempfile.mkdtemp`` that self-cleans at interpreter exit.
    Suite entries create landing dirs / checkpoints / rollup tables as
    temp dirs; without this they accumulate across bench and test runs
    on a long-lived machine (~1200 dirs after one build day, enough to
    drift bench wall measurably). atexit instead of eager deletion
    because the dirs are cached per (app, SF) and reused for the whole
    session."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def layout_ready(written: set, key, *paths: str) -> bool:
    """True iff this session already wrote the layout under ``key``
    AND every backing dir still exists on disk. Guarding write-once
    layouts with this (rather than bare set membership) turns a
    concurrently GC'd dir into a rebuild instead of a permanent
    missing-file failure — see touch_layout's residual-race note."""
    import os

    return key in written and all(os.path.isdir(p) for p in paths)

#: sf_dirs whose suite series-family copy exists for this session
_FAMILY_WRITTEN: set = set()


@_q(
    "seriesfamily_roundtrip",
    f"""
    SELECT event_type AS series, epoch_us(ts) AS ts_us, value, user_id
    FROM events
    WHERE event_type IN ('click', 'error')
      AND epoch_ns(ts) >= {S_NS} AND epoch_ns(ts) < {E_NS}
    """,
)
def seriesfamily_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write path end to end, driver-certified: events WRITTEN
    through SeriesFamily.write (date-partitioned parquet, per-file
    (series, ts) clustering — the WriteTagged re-expression,
    client/m3dbseriesfamily.go:147-185) then FETCHED back with a
    series + time-range predicate (Fetch + merge-iterator analog,
    m3dbseriesfamily.go:188-222). The round trip must reproduce the
    source rows exactly. Write happens once per session+SF (ingest
    amortization, like the bucketed/z-ordered layouts)."""
    import os
    from urllib.parse import urlparse

    from boostdb_spark.sources.seriesfamily import SeriesFamily

    t = load_tables(spark, sf_dir)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/"))
    fam = SeriesFamily(spark, "suite", f"events_rt_{tag}", f"{wh}/suite_families")
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _FAMILY_WRITTEN:
        ev = t["events"]
        src = ev.select(
            F.col("event_type").alias("series"), "ts", "value", "user_id"
        )
        fam.write(src, mode="overwrite")
        _FAMILY_WRITTEN.add(key)
    out = fam.fetch(series=["click", "error"], start=S_NS, end=E_NS)
    return out.select(
        "series", _ts_us(out).alias("ts_us"), "value", "user_id"
    )


@_q(
    "scan_zordered",
    """
    SELECT event_id, user_id, value FROM events
    WHERE user_id BETWEEN 100 AND 160 AND value BETWEEN 20.0 AND 45.0
    """,
)
def scan_zordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided selective scan against a z-order-clustered copy of the
    events table (sources/zorder.py — Morton-interleaved (user_id,
    value), range-partitioned + sorted files): BOTH predicates reach
    parquet as PushedFilters AND both columns' row-group min/max stats
    are narrow, so the 100 TB scan skips most row groups on either
    dimension. Layout is ingest-time work (written once per session+SF,
    like the bucketed tables); the certified result is the exact filter
    semantics over the re-clustered copy."""
    import os

    from boostdb_spark.sources.zorder import zorder_write

    t = load_tables(spark, sf_dir)
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    path = os.path.join(wh, f"suite_events_z_{os.path.basename(sf_dir.rstrip('/'))}")
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _ZORDER_WRITTEN:
        zorder_write(
            t["events"].select("event_id", "user_id", "value"),
            path, cols=["user_id", "value"], num_files=8,
        )
        _ZORDER_WRITTEN.add(key)
    z = spark.read.parquet(path)
    return z.filter(
        F.col("user_id").between(100, 160) & F.col("value").between(20.0, 45.0)
    )


@_q(
    "scan_bloom_pointlookup",
    """
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_id IN (3, 77, 500, 4242, 999999999)
    """,
)
def scan_bloom_pointlookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup probe against a bloom-filter parquet layout
    (sources/bloom.py): the events table rewritten with a split-block
    bloom filter on the high-cardinality event_id — the data-skipping
    leg that needs NO clustering (row-group min/max can't help a
    scattered id; the bloom filter proves absence per row group, so a
    needle lookup at 100 TB touches only the groups whose filter
    fires). Bloom pruning is a read-side optimization with exact
    results — the certified rows hash against the oracle over the raw
    table. Write is ingest-time, once per session+SF like the other
    layouts."""
    import os
    from urllib.parse import urlparse

    from boostdb_spark.sources.bloom import bloom_write, read_bloom

    t = load_tables(spark, sf_dir)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app_id = spark.sparkContext.applicationId
    path = os.path.join(wh, f"suite_events_bloom_{tag}_{app_id}")
    key = (app_id, sf_dir)
    if not layout_ready(_BLOOM_WRITTEN, key, path):
        gc_stale_layouts(wh, "suite_events_bloom_")
        bloom_write(
            t["events"].select("event_id", "user_id", "event_type", "value"),
            path, cols=["event_id"], expected_ndv=1_000_000, num_files=8,
        )
        _BLOOM_WRITTEN.add(key)
    touch_layout(path)
    probe = [3, 77, 500, 4242, 999_999_999]
    return read_bloom(spark, path).filter(F.col("event_id").isin(probe))


@_q(
    "scan_hive_partition_prune",
    """
    SELECT event_id, user_id, value,
           strftime(ts, '%Y-%m-%d') AS day
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
      AND event_type = 'click'
    """,
)
def scan_hive_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-level partition pruning — the cheapest data skipping
    there is: the events table rewritten hive-partitioned by day
    (``.../day=2024-01-15/...``), so a day-selective query never
    LISTS the other directories, let alone opens a footer. At 100 TB
    this is the first line of defense before row-group stats / bloom
    filters even matter; the plan's PartitionFilters carries the day
    predicate (pinned in tests/test_plan_shapes.py) while the residual
    event_type filter stays a PushedFilter. Partition type inference
    is disabled at write by prefix-free string days + output cast, so
    both engines see plain strings."""
    import os
    from urllib.parse import urlparse

    t = load_tables(spark, sf_dir)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app_id = spark.sparkContext.applicationId
    path = os.path.join(wh, f"suite_events_hivepart_{tag}_{app_id}")
    key = (app_id, sf_dir)
    if not layout_ready(_HIVEPART_WRITTEN, key, path):
        gc_stale_layouts(wh, "suite_events_hivepart_")
        (
            t["events"]
            .select(
                "event_id",
                "user_id",
                "event_type",
                "value",
                F.date_format(_ts_t(t["events"]), "yyyy-MM-dd").alias("day"),
            )
            .repartition("day")
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(path)
        )
        _HIVEPART_WRITTEN.add(key)
    touch_layout(path)
    z = spark.read.parquet(path)
    return z.filter(
        (F.col("day").cast("string") == "2024-01-15")
        & (F.col("event_type") == "click")
    ).select(
        "event_id", "user_id", "value", F.col("day").cast("string").alias("day")
    )


@_q(
    "scan_schema_evolution",
    """
    SELECT event_id, value, CAST(NULL AS VARCHAR) AS quality
    FROM events WHERE event_type = 'view'
    UNION ALL
    SELECT event_id, value,
           CASE WHEN value >= 50.0 THEN 'hi' ELSE 'lo' END AS quality
    FROM events WHERE event_type = 'purchase'
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written to one
    table root where the SECOND batch added a ``quality`` column (the
    append-only ingest reality at 100 TB — historical files are never
    rewritten), read back with ``mergeSchema`` so old rows surface the
    new column as NULL. The certified result pins Spark's
    schema-merge semantics (union-by-name, NULL back-fill) against a
    literal two-branch oracle."""
    import os
    from urllib.parse import urlparse

    t = load_tables(spark, sf_dir)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app_id = spark.sparkContext.applicationId
    path = os.path.join(wh, f"suite_events_evolve_{tag}_{app_id}")
    key = (app_id, sf_dir)
    if not layout_ready(_EVOLVE_WRITTEN, key, path):
        gc_stale_layouts(wh, "suite_events_evolve_")
        ev = t["events"]
        (
            ev.filter(F.col("event_type") == "view")
            .select("event_id", "value")
            .write.mode("overwrite")
            .parquet(path)
        )
        (
            ev.filter(F.col("event_type") == "purchase")
            .select(
                "event_id",
                "value",
                F.when(F.col("value") >= 50.0, "hi").otherwise("lo").alias(
                    "quality"
                ),
            )
            .write.mode("append")
            .parquet(path)
        )
        _EVOLVE_WRITTEN.add(key)
    touch_layout(path)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("event_id", "value", "quality")
    )


@_q(
    "file_formats_roundtrip",
    """
    SELECT fmt, event_id, epoch_us(ts) AS ts_us, user_id, event_type,
           value, props
    FROM (SELECT 'csv' AS fmt, * FROM events
          UNION ALL
          SELECT 'orc' AS fmt, * FROM events)
    """,
)
def file_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and ORC ingest/egress fidelity (sources/files.py:49,72):
    the events table is written through ``write_any`` as gzip CSV and
    as ORC, read back through ``read_any`` with the production
    explicit-schema path, and EVERY row of both round trips is hashed
    against the oracle reading the original parquet — a lost µs of
    timestamp precision, a mis-quoted JSON props string, or a
    non-shortest double rendering in the text format flips the hash.
    File formats are a §2 surface the reference lacks entirely
    (SURVEY §2.1 marks connectors ABSENT; the reference's only backend
    is M3DB, testdata/executordata/config.yaml:1-12). Write is
    ingest-time work, once per session+SF like the other layouts."""
    import os
    from urllib.parse import urlparse

    from boostdb_spark.sources.files import read_any, write_any

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app_id = spark.sparkContext.applicationId
    paths = {
        fmt: os.path.join(wh, f"suite_filefmt_{tag}_{app_id}_{fmt}")
        for fmt in ("csv", "orc")
    }
    key = (app_id, sf_dir)
    if not layout_ready(_FILEFMT_WRITTEN, key, *paths.values()):
        gc_stale_layouts(wh, "suite_filefmt_")
        for fmt, p in paths.items():
            write_any(ev, p, fmt)
        _FILEFMT_WRITTEN.add(key)
    parts = []
    for fmt, p in paths.items():
        touch_layout(p)
        back = read_any(spark, p, fmt, schema=ev.schema)
        parts.append(back.select(F.lit(fmt).alias("fmt"), *ev.columns))
    u = parts[0].unionByName(parts[1])
    return u.select(
        "fmt", "event_id", _ts_us(u).alias("ts_us"), "user_id",
        "event_type", "value", "props",
    )


@_q(
    "join_bucketed_colocated",
    """
    SELECT o_orderpriority, count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join through the bucketed-write path: both sides are
    written bucketed on the order key (sources/bucketing.py — the Spark
    generalization of the reference's distributionFactor sharding,
    client/m3dbseriesfamily.go:156-168), then merge-joined with ZERO
    Exchange below the join (tests/test_bucketing.py and
    test_plan_shapes.py assert the plan). At 100 TB this is THE shuffle
    eliminated: pre-partition once at ingest, every orderkey join after
    is a zipped per-bucket merge."""
    import os

    from boostdb_spark.sources.bucketing import bucketed_join, write_bucketed

    t = load_tables(spark, sf_dir)
    nb = 8
    # bucketing is INGEST-time work: write once per (session, sf_dir)
    # and re-run the read-side join against the existing layout —
    # exactly the amortization a production pipeline gets. The SF tag
    # is part of the TABLE NAME (not just the cache key) so a session
    # that touches several sf_dirs never reads another SF's layout.
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    orders_tbl = f"suite_orders_bkt_{tag}"
    lineitem_tbl = f"suite_lineitem_bkt_{tag}"
    cache_key = (spark.sparkContext.applicationId, sf_dir, nb)
    if cache_key not in _BUCKETED_WRITTEN:
        write_bucketed(
            t["orders"].select("o_orderkey", "o_orderpriority"),
            orders_tbl, ["o_orderkey"], nb,
        )
        write_bucketed(
            t["lineitem"].select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ).withColumnRenamed("l_orderkey", "o_orderkey"),
            lineitem_tbl, ["o_orderkey"], nb,
        )
        _BUCKETED_WRITTEN.add(cache_key)
    joined = bucketed_join(spark, orders_tbl, lineitem_tbl, on=["o_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("revenue"),
    )


@_q(
    "agg_q5_local_revenue",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def agg_q5_local_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join (two facts, four dims) with the
    local-supplier condition (customer and supplier in the SAME
    nation) and a region filter. The join-ordering stress test: the
    region/nation chain broadcasts and prunes supplier BEFORE the
    fact-to-fact join; the c_nationkey = s_nationkey condition rides
    the join, never a post-filter cartesian."""
    t = load_tables(spark, sf_dir)
    nr = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = t["supplier"].join(
        F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["customer"], F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


@_q(
    "agg_q10_returned_topk",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def agg_q10_returned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item revenue report): the
    billing-escalation query — customers who returned the most revenue
    in a quarter-ish window. Date filter pushed into the orders scan,
    returnflag filter pushed into lineitem, nation broadcast, DECIMAL
    revenue (exact, order-independent) cast to double at the edge,
    deterministic top-20 via the custkey tiebreak (TakeOrdered — no
    global sort materialization)."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1996-01-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1996-07-01'"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@_q(
    "agg_q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, yr,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS yr,
             l_extendedprice, l_discount
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, yr
    """,
)
def agg_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations): the
    bilateral-trade report — two aliases of the SAME dimension table
    (supplier nation vs customer nation) with a symmetric pair
    predicate, a shipdate range pushed into the lineitem scan, and a
    per-year DECIMAL revenue rollup. Join-planning stress: both nation
    aliases broadcast and prune supplier/customer BEFORE the
    fact-to-fact join; the OR pair condition rides the joined row,
    never a cartesian."""
    t = load_tables(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    s = t["supplier"].join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    ).select("s_suppkey", "supp_nation")
    c = t["customer"].join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    ).select("c_custkey", "cust_nation")
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1998-01-01'"))
    )
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            # BIGINT to match DuckDB year() (int32-vs-int64 is a
            # schema mismatch the local pandas gate cannot see)
            F.year("l_shipdate").cast("long").alias("yr"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


@_q(
    "agg_q18_large_orders",
    """
    SELECT c_custkey, o_orderkey, o_totalprice,
           sum(l_quantity) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 100)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
    """,
)
def agg_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): an IN subquery whose body
    is itself a grouped HAVING aggregate — the composed
    aggregate-as-predicate shape (the reference declares Aggregate
    expressions, expression.go:16-18; this is the production version).
    Catalyst plans the IN as a left-semi join against the HAVING
    aggregate (one pass over lineitem for the filter, one for the
    outer rollup); quantity sums are integral doubles (exact,
    order-independent); top-50 via the orderkey tiebreak. l_quantity
    stays DOUBLE end-to-end on both engines."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 100.0)
        .select(F.col("l_orderkey").alias("_bk"))
    )
    return (
        t["lineitem"]
        .join(big, F.col("l_orderkey") == F.col("_bk"), "left_semi")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(50)
    )


@_q(
    "agg_q14_promo_share",
    """
    SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                  AS DOUBLE) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def agg_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate ratio over a
    fact-to-dimension join (promo revenue share). part broadcasts;
    both sums accumulate as DECIMAL then cast for the final ratio."""
    t = load_tables(spark, sf_dir)
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(zero))
                .cast("double")
                / F.sum(disc).cast("double")
            ).alias("promo_share")
        )
    )


@_q(
    "agg_q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def agg_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the canonical
    pushdown showcase — a single-table filter-aggregate whose THREE
    predicates (shipdate range, discount band, quantity cap) all reach
    the parquet scan as PushedFilters, so at 100 TB the scan skips
    row groups on shipdate min/max before any CPU is spent. Revenue
    accumulates as DECIMAL (order-independent) and casts to DOUBLE at
    the edge. Realizes the reference's declared WHERE comparison enums
    (query/base/expression.go:20-32) composed with aggregation."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-01-01'"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


@_q(
    "agg_q4_priority_late",
    """
    SELECT o_orderpriority, count(*) AS n_late
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_q4_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking), adapted to the
    fixture's columns: the fixture has no l_commitdate/l_receiptdate,
    so "late" is a line SHIPPED more than 60 days after the order date
    — the same correlated-EXISTS-with-inequality structure (the
    correlation predicate references BOTH tables). Catalyst plans the
    EXISTS as a left-semi join on orderkey with the date inequality as
    a join residual: one pass over each table, no subquery re-execution
    per outer row. The quarter filter prunes the orders scan first."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1996-07-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1996-10-01'"))
    )
    late = (
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
    )
    return (
        o.join(t["lineitem"], late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late"))
        .orderBy("o_orderpriority")
    )


@_q(
    "agg_q13_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def agg_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): a LEFT
    OUTER join whose ON clause carries an EXTRA non-equi predicate on
    the right side (the fixture has no o_comment, so the spec's
    NOT-LIKE comment filter becomes a priority exclusion — same
    plan shape: the filter must stay IN the join condition, a WHERE
    would turn the outer join inner and drop zero-order customers),
    then a two-level aggregate: orders per customer, customers per
    order-count. The distribution's zero bucket is the
    no-orders-customers cohort — exactly what the outer join
    preserves."""
    t = load_tables(spark, sf_dir)
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        t["customer"]
        .join(t["orders"], cond, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@_q(
    "agg_q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
    FROM supplier, rev
    WHERE s_suppkey = supplier_no
      AND total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
)
def agg_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): an aggregate VIEW consumed
    twice — once for the per-supplier revenue, once reduced to its MAX
    as a scalar predicate. The view computes ONCE (decimal revenue:
    exact, so the equality against the max is bit-safe — float revenue
    here would make ties engine-dependent); the 1-row max broadcasts
    back against it (no driver collect, no recompute), then the
    surviving supplier row(s) join the supplier dim. At scale the
    revenue aggregate is the only shuffle; everything after it is
    broadcast-sized."""
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1996-04-01'"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("total_rev")
        )
    )
    rev = rev.localCheckpoint(eager=False)  # view computes once, reads twice
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_rev") == F.col("_mx"))
        .join(
            t["supplier"], F.col("supplier_no") == F.col("s_suppkey")
        )
        .select(
            "s_suppkey", "s_name",
            F.col("total_rev").cast("double").alias("total_rev"),
        )
        .orderBy("s_suppkey")
    )


@_q(
    "agg_q17_small_qty_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           / 7.0 AS avg_yearly
    FROM lineitem, part,
         (SELECT l_partkey AS ap,
                 CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) AS avg_qty
          FROM lineitem GROUP BY l_partkey) pa
    WHERE p_partkey = l_partkey AND ap = l_partkey
      AND p_brand = 'Brand#3' AND p_type = 'SMALL'
      AND l_quantity < 0.2 * avg_qty
    """,
)
def agg_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    scalar-aggregate-per-group subquery — each lineitem compares its
    quantity against 0.2x the AVERAGE quantity of its own part. Planned
    as decorrelation-by-hand (what Catalyst does to the SQL form): one
    per-part aggregate over lineitem, joined back on partkey. The avg
    uses the exact pattern (decimal sum cast double / count) so the
    0.2x threshold is the same double in both engines — a float-sum
    avg would straddle comparison boundaries. The brand/type filter
    broadcasts part and prunes BEFORE the join-back; the per-part avg
    aggregates the full table once (at 100 TB, the one unavoidable
    shuffle)."""
    t = load_tables(spark, sf_dir)
    pa = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("ap"))
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty")
        )
    )
    p = t["part"].filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(pa, F.col("ap") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / 7.0
            ).alias("avg_yearly")
        )
    )


@_q(
    "agg_q19_disjunctive_brand",
    """
    SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND (
          (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30))
    """,
)
def agg_q19_disjunctive_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    three OR-blocks that each mix columns from BOTH join sides — the
    classic optimizer stress for predicate factoring. Catalyst extracts
    the common p_partkey equi-key for the hash join and keeps the OR as
    a residual; it also derives the IMPLIED single-side disjunctions
    (brand IN its 3 values, size <= 15, quantity <= 30) and pushes them
    into the scans, so most of lineitem never reaches the join at
    scale. part broadcasts."""
    t = load_tables(spark, sf_dir)
    blk = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .filter(blk)
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


@_q(
    "agg_q22_idle_customers",
    """
    SELECT c_mktsegment, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
           AS totacctbal
    FROM customer,
         (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) AS ab
          FROM customer WHERE c_acctbal > 0.0) avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def agg_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity), adapted: the fixture
    has no c_phone, so the spec's country-code grouping becomes the
    market segment, and "never ordered" becomes "no orders since
    2000" (the fixture's order density gives every customer SOME
    order; the spec's empty-history predicate would be vacuous). The
    structure is intact: a SCALAR subquery threshold (average positive
    balance, exact-avg pattern so the comparison boundary is the same
    double in both engines), a NOT EXISTS anti-join against a
    date-pruned orders scan (lapsed customers), and
    a grouped rollup of the survivors. The 1-row threshold broadcasts;
    the anti-join is the only shuffle beside the final small rollup."""
    t = load_tables(spark, sf_dir)
    ab = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_ab")
        )
    )
    return (
        t["customer"]
        .join(F.broadcast(ab), F.col("c_acctbal") > F.col("_ab"))
        .join(
            t["orders"].filter(
                F.col("o_orderdate") >= F.expr("TIMESTAMP '2000-01-01'")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@_q(
    "agg_q8_market_share",
    """
    SELECT yr,
           CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol
                         ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(sum(vol) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,6)) AS vol,
             n2.n_name AS supp_nation
      FROM part, supplier, lineitem, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND p_type = 'ECONOMY') all_nations
    GROUP BY yr ORDER BY yr
    """,
)
def agg_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the WIDEST TPC-H join
    graph — EIGHT relations, with the nation dimension joined TWICE
    under different roles (customer's nation chain reaches region for
    the ASIA market filter; supplier's nation labels the volume), a
    conditional-share aggregate per order year. Every dimension chain
    broadcasts after its own pushed filter (region name, part type,
    order-date range), so the only shuffle is the final 2-row rollup.
    Both the PROMO-share numerator trick (conditional DECIMAL sum) and
    the year bucketing reuse certified patterns (Q14/Q7)."""
    t = load_tables(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"),
    )
    cust = (
        t["customer"]
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(
            F.broadcast(
                t["region"].filter(F.col("r_name") == "ASIA")
            ),
            F.col("n1_region") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("supp_nation"),
    )
    supp = t["supplier"].join(
        F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key")
    ).select("s_suppkey", "supp_nation")
    p = t["part"].filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1996-01-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1998-01-01'"))
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        t["lineitem"]
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("yr"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("yr")
    )


@_q(
    "agg_q21_waiting_supplier",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      AND s_nationkey = n_nationkey
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
    """,
)
def agg_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    the fixture's columns (no receipt/commit dates: "late" is shipping
    >90 days after the order date): for finished orders, the suppliers
    whose line was the ONLY late one in a multi-supplier order — the
    composed EXISTS + correlated NOT EXISTS, the hardest decorrelation
    in the benchmark. Planned as aggregate-decorrelation instead of
    two semi/anti joins over correlated inequality subqueries: one
    pass computes each order's distinct-supplier count (EXISTS other
    supplier == count >= 2), one computes its distinct LATE-supplier
    count (NOT EXISTS other late supplier == count == 1, since the
    candidate line itself is late), and the late lines join those two
    order-level facts. Each lineitem pass shuffles once on orderkey;
    both EXISTS conditions become integer comparisons on broadcast-able
    aggregates. numwait counts LINES (the spec's FROM-product
    cardinality), not distinct orders — both engines agree on that
    contract."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = (
        t["lineitem"]
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
        )
        .select("l_orderkey", "l_suppkey")
    )
    n_supp = (
        t["lineitem"]
        .groupBy(F.col("l_orderkey").alias("k1"))
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
    )
    n_late = (
        late.distinct()
        .groupBy(F.col("l_orderkey").alias("k2"))
        .agg(F.count(F.lit(1)).alias("n_late"))
    )
    return (
        late.join(n_supp, F.col("l_orderkey") == F.col("k1"))
        .join(n_late, F.col("l_orderkey") == F.col("k2"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


@_q(
    "agg_q11_important_stock",
    """
    WITH v AS (
      SELECT l_partkey AS pk,
             CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,6)) AS val
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_1')
    SELECT pk, CAST(sum(val) AS DOUBLE) AS value
    FROM v GROUP BY pk
    HAVING CAST(sum(val) AS DOUBLE) >
           (SELECT CAST(sum(val) AS DOUBLE) * 0.001 FROM v)
    ORDER BY value DESC, pk LIMIT 100
    """,
)
def agg_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification), adapted: no
    partsupp means no ps_availqty*ps_supplycost, so a part's national
    "stock value" is the revenue its NATION_1 suppliers shipped — the
    SHAPE is intact and it is the interesting one: a grouped aggregate
    HAVING-compared against a SCALAR AGGREGATE SUBQUERY over the SAME
    relation (the group's share of the grand total). Planned as the
    relation computed once (localCheckpoint), its 1-row grand total
    broadcast back against the per-part rollup — no recompute, no
    driver collect; both sides of the threshold comparison go through
    the DECIMAL-sum-cast-DOUBLE pattern so the boundary is the same
    double in both engines."""
    t = load_tables(spark, sf_dir)
    n1 = t["nation"].filter(F.col("n_name") == "NATION_1").select(
        "n_nationkey"
    )
    s = t["supplier"].join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    v = (
        t["lineitem"]
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("pk"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            ).alias("val"),
        )
    )
    v = v.localCheckpoint(eager=False)  # grand total + rollup, one pass
    total = v.agg((F.sum("val").cast("double") * 0.001).alias("_thr"))
    return (
        v.groupBy("pk")
        .agg(F.sum("val").cast("double").alias("value"))
        .join(F.broadcast(total), F.col("value") > F.col("_thr"))
        .select("pk", "value")
        .orderBy(F.col("value").desc(), F.col("pk").asc())
        .limit(100)
    )


@_q(
    "agg_q16_supplier_count",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT s_suppkey) AS supplier_cnt
    FROM part, lineitem, supplier
    WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
      AND p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      AND s_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 100
    """,
)
def agg_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship), adapted: the
    part<->supplier association is the lineitem history (no partsupp)
    and the spec's comment-based complaint exclusion becomes a
    negative-balance exclusion (no s_comment) — the shape is intact:
    negated attribute predicates + an IN-list pushed into the part
    scan, a NOT IN subquery planned as an anti-join, and a DISTINCT
    COUNT per attribute triple (Spark's Expand-based distinct
    aggregate). part prunes before the fact join; the excluded
    supplier set broadcasts."""
    t = load_tables(spark, sf_dir)
    p = t["part"].filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = t["supplier"].filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("_bad")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("_bad"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand").asc(),
            F.col("p_type").asc(), F.col("p_size").asc(),
        )
        .limit(100)
    )


@_q(
    "agg_q20_promotion_suppliers",
    """
    WITH shipped AS (
      SELECT l_suppkey AS sk, l_partkey AS pk, sum(l_quantity) AS q
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2)
    SELECT s_name, n_name FROM supplier, nation
    WHERE s_nationkey = n_nationkey AND n_name = 'NATION_2'
      AND s_suppkey IN (
        SELECT sk FROM shipped
        WHERE pk IN (SELECT p_partkey FROM part
                     WHERE p_name LIKE 'red%')
          AND q > (SELECT 0.5 * max(s2.q) FROM shipped s2
                   WHERE s2.pk = shipped.pk))
    ORDER BY s_name
    """,
)
def agg_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion), adapted: without
    ps_availqty, a NATION_2 supplier qualifies when its 1996 shipped
    quantity of some red part EXCEEDS half the part's single-supplier
    maximum — the spec's NESTED IN CHAIN with a correlated aggregate
    threshold is intact: supplier IN (pairs over parts IN (name
    prefix) with qty > correlated 0.5*aggregate). Decorrelated by
    hand the way Catalyst rewrites the SQL: per-(supplier, part)
    quantity aggregate once, the per-part max joined back on partkey,
    the name-prefix part list broadcast-semi, the surviving supplier
    ids broadcast-semi against the dim. Quantity sums are integral
    doubles (exact), so the 0.5x threshold is the same double in both
    engines."""
    t = load_tables(spark, sf_dir)
    shipped = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-01-01'"))
        )
        .groupBy(
            F.col("l_suppkey").alias("sk"), F.col("l_partkey").alias("pk")
        )
        .agg(F.sum("l_quantity").alias("q"))
    )
    shipped = shipped.localCheckpoint(eager=False)  # pairs + per-pk max
    red = t["part"].filter(F.col("p_name").like("red%")).select(
        F.col("p_partkey").alias("_rp")
    )
    pkmax = shipped.groupBy(F.col("pk").alias("_mpk")).agg(
        F.max("q").alias("_mx")
    )
    elig = (
        shipped.join(F.broadcast(red), F.col("pk") == F.col("_rp"), "left_semi")
        .join(pkmax, F.col("pk") == F.col("_mpk"))
        .filter(F.col("q") > 0.5 * F.col("_mx"))
        .select(F.col("sk").alias("_esk"))
        .distinct()
    )
    return (
        t["supplier"]
        .join(F.broadcast(elig), F.col("s_suppkey") == F.col("_esk"), "left_semi")
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_2")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@_q(
    "agg_q2_min_cost_supplier",
    """
    WITH elig AS (
      SELECT p_partkey, p_brand, s_name, s_acctbal, n_name,
             l_extendedprice AS price
      FROM lineitem, part, supplier, nation, region
      WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE' AND p_size = 15 AND p_type = 'STANDARD')
    SELECT DISTINCT elig.p_partkey, p_brand, s_name, s_acctbal, n_name,
                    price
    FROM elig JOIN (SELECT p_partkey, min(price) AS mp
                    FROM elig GROUP BY p_partkey) m
      ON elig.p_partkey = m.p_partkey AND elig.price = m.mp
    ORDER BY s_acctbal DESC, elig.p_partkey, s_name, price LIMIT 100
    """,
)
def agg_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier), adapted: the fixture has
    no partsupp, so the part<->supplier association (and its cost) is
    the lineitem history — for each STANDARD size-15 part, the EUROPE
    supplier(s) that actually shipped it at the lowest observed price.
    Structure intact: a 5-table snowflake (two broadcast dims deep:
    region prunes nation prunes supplier), a correlated per-group MIN
    as the keep predicate, deterministic top-100. The per-part min is a
    WINDOW over the eligible rows (one shuffle on partkey), not a
    self-join — the SQL IN form decorrelates to exactly this. Min on
    raw doubles is order-independent (no accumulation), so no decimal
    detour is needed."""
    t = load_tables(spark, sf_dir)
    nr = t["nation"].join(
        F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    s = t["supplier"].join(
        F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    p = t["part"].filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_brand")
    elig = (
        t["lineitem"]
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_brand", "s_name", "s_acctbal", "n_name",
            F.col("l_extendedprice").alias("price"),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        elig.withColumn("_minp", F.min("price").over(w))
        .filter(F.col("price") == F.col("_minp"))
        .drop("_minp")
        .distinct()
        .orderBy(
            F.col("s_acctbal").desc(), F.col("p_partkey").asc(),
            F.col("s_name").asc(), F.col("price").asc(),
        )
        .limit(100)
    )


@_q(
    "agg_q9_nation_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         - p_retailprice * l_quantity * 0.1
                         AS DECIMAL(18,6))) AS DOUBLE) AS profit
    FROM lineitem, orders, part, supplier, nation
    WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%widget%'
    GROUP BY n_name, yr
    """,
)
def agg_q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit), adapted: no partsupp means
    no ps_supplycost, so cost is proxied as 10% of retail price x
    quantity — the shape is what matters: a FIVE-table star (the widest
    TPC-H join graph after Q8) with a substring filter on the part
    name, profit per supplier-nation per order-year. part/supplier/
    nation all broadcast (part pruned by the LIKE first), so lineitem
    is shuffled exactly once — for the final rollup; orders joins on
    the fact's own orderkey. Per-row profit arithmetic is
    IEEE-deterministic with the oracle's exact parse shape; the SUM
    goes through DECIMAL."""
    t = load_tables(spark, sf_dir)
    p = t["part"].filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    ).cast("decimal(18,6)")
    return (
        t["lineitem"]
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(t["supplier"]),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


@_q(
    "join_skew_salted",
    """
    SELECT n_name, count(*) AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join (operators/joins.py::salted_join):
    the probe side scatters each hot key over salt_buckets reducers by
    joining on (key, salt) with the build side replicated per bucket —
    the explicit escape hatch when one key exceeds a partition even
    under AQE skew splitting. Certified here to produce EXACTLY the
    plain-join result (customer keyed on the 25-value nationkey — a
    genuinely skewed key distribution)."""
    from boostdb_spark.operators.joins import salted_join

    t = load_tables(spark, sf_dir)
    out = salted_join(
        t["customer"].select("c_custkey", F.col("c_nationkey").alias("nk")),
        t["nation"].select(F.col("n_nationkey").alias("nk"), "n_name"),
        on="nk", salt_buckets=8,
    )
    return out.groupBy("n_name").agg(F.count("*").alias("n_cust"))


@_q(
    "join_skew_auto",
    """
    SELECT event_type, count(*) AS n, type_label
    FROM events JOIN (
      SELECT DISTINCT event_type AS et,
             concat('series_', event_type) AS type_label
      FROM events) d ON event_type = et
    GROUP BY event_type, type_label
    """,
)
def join_skew_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-skew salted join (operators/joins.py::auto_salted_join):
    the salt bucket count derives from a seeded sampled key histogram
    — p_max * shuffle_partitions, clamped — instead of a caller
    constant, and near-uniform inputs plan the PLAIN join (no
    replication tax). events keyed on the 5-value event_type is
    maximally skewed relative to 32 reducers, so this entry certifies
    the salted path end to end against the plain-join oracle."""
    from boostdb_spark.operators.joins import auto_salted_join

    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_type")
    dim = ev.distinct().select(
        F.col("event_type").alias("et"),
        F.concat(F.lit("series_"), F.col("event_type")).alias("type_label"),
    )
    # event_id rides along so the salt hash (over all probe columns)
    # varies WITHIN a hot key — key-only rows would all salt identically
    out = auto_salted_join(
        t["events"].select(
            "event_id", "event_type", F.col("event_type").alias("et")
        ),
        dim,
        on="et",
        sample_fraction=0.2,
    )
    return out.groupBy("event_type", "type_label").agg(
        F.count("*").alias("n")
    ).select("event_type", "n", "type_label")


@_q(
    "join_implicit_where",
    """
    SELECT c_mktsegment, count(*) AS n_ord
    FROM orders, customer
    WHERE o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_implicit_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit join via WHERE over comma-FROM — the reference parses
    this shape but drops it (parser.go:145-147). Catalyst rewrites
    filter-over-cross-join into an equi-join automatically; the test
    asserts the plan contains no CartesianProduct."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .crossJoin(t["customer"])
        .filter(F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_ord"))
    )


@_q(
    "join_left_outer",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@_q(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 200000.0)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 200000.0)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@_q(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@_q(
    "join_cross",
    """
    SELECT a.r_name AS name_a, b.r_name AS name_b
    FROM region a CROSS JOIN region b
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (comma-FROM cross is STUB in the reference,
    joinparser.go:87-97)."""
    t = load_tables(spark, sf_dir)
    a = t["region"].select(F.col("r_name").alias("name_a"))
    b = t["region"].select(F.col("r_name").alias("name_b"))
    return a.crossJoin(b)


# ===========================================================================
# 2.4/2.5 — aggregation / GROUP BY / HAVING / ORDER BY / LIMIT / set ops
# (all STUB enums in the reference: query/base/expression.go:16-32)
# ===========================================================================


@_q(
    "agg_groupby_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1997-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: partial+final hash aggregation (automatic
    map-side combine — what the reference's Aggregate stub would need,
    expression.go:16-18)."""
    t = load_tables(spark, sf_dir)
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    disc = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") <= F.lit("1997-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base"),
            F.sum(disc).cast("double").alias("sum_disc"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "agg_having",
    """
    SELECT l_suppkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           count(*) AS n_items
    FROM lineitem GROUP BY l_suppkey
    HAVING count(*) > 20
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (parse states exist, never entered —
    parser.go:70-74)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
        .filter(F.col("n_items") > 20)
    )


@_q(
    "agg_stats",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_value,
           min(value) AS min_value, max(value) AS max_value,
           round(stddev_samp(value), 2) AS sd_value
    FROM events GROUP BY event_type
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
             / F.count(F.lit(1))).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.round(F.stddev_samp("value"), 2).alias("sd_value"),
        )
    )


@_q("distinct_series", "SELECT DISTINCT event_type FROM events")
def distinct_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (absent in reference; the M3DB tag-Aggregate pass-through
    boostsession.go:284-292 is the closest analog — series/tag discovery)."""
    t = load_tables(spark, sf_dir)
    return t["events"].select("event_type").distinct()


@_q(
    "agg_rollup",
    """
    SELECT r_name, n_name, count(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"))
    )


@_q(
    "orderby_limit_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def orderby_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY (stub enum, expression.go:30-32) + LIMIT (absent).
    Spark executes as TakeOrderedAndProject — per-partition top-k then
    merge, no global sort at scale. Deterministic via o_orderkey
    tiebreak."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@_q(
    "setop_union",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    a = t["customer"].select(F.col("c_nationkey").alias("nationkey"))
    b = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    return a.union(b).distinct()


@_q(
    "setop_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    a = (
        t["customer"]
        .filter(F.col("c_acctbal") > 9000.0)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    b = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    return a.intersect(b)


@_q(
    "setop_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000.0
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    a = t["customer"].select(F.col("c_nationkey").alias("nationkey"))
    b = (
        t["supplier"]
        .filter(F.col("s_acctbal") > 5000.0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return a.subtract(b)


# ===========================================================================
# Window functions + time-series operators (north star: "rich set of
# time-series functions", reference README.md:8; SURVEY section 2.6/phase 4)
# ===========================================================================


@_q(
    "window_delta",
    """
    SELECT event_id,
           value - lag(value) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def window_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delta(): per-series consecutive difference — the ordered
    per-series traversal of the merge iterator
    (boostseriesiterator.go:301-343) as a window function."""
    t = load_tables(spark, sf_dir)
    return ts_ops.delta(
        t["events"],
        value_col="value",
        series_cols=("event_type",),
        ts_col="ts",
        order_extra=("event_id",),
    ).select("event_id", "delta")


@_q(
    "window_rate",
    """
    SELECT event_id,
           CASE WHEN CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER w AS DOUBLE) > 0
                THEN (value - lag(value) OVER w)
                     / (CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER w AS DOUBLE)
                        / 1000000.0)
           END AS rate
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    """,
)
def window_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rate(): per-second derivative. Computed on µs ticks so the DuckDB
    oracle (which truncates parquet ns to µs) is bit-identical; the
    operator itself defaults to ns ticks."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    ev = ev.withColumn("ts_us", _ts_us(ev))
    return ts_ops.rate(
        ev,
        value_col="value",
        series_cols=("event_type",),
        ts_col="ts_us",
        order_extra=("event_id",),
        ticks_per_second=1e6,
    ).select("event_id", "rate")


@_q(
    "window_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (per-series top orders) — row_number window,
    single shuffle, no global sort."""
    t = load_tables(spark, sf_dir)
    return ts_ops.topk_per_group(
        t["orders"].select("o_custkey", "o_orderkey", "o_totalprice"),
        k=3,
        group_cols=("o_custkey",),
        order_col="o_totalprice",
        tiebreak=("o_orderkey",),
    )


@_q(
    "window_running_sum",
    """
    SELECT event_id,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
    FROM events
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-series sum with an explicit ROWS frame
    (rowsBetween — SURVEY section 2.5); DECIMAL for exactness."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t["events"].select(
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("running"),
    )


@_q(
    "time_bucket_agg",
    """
    SELECT (epoch_ns(ts) - epoch_ns(ts) % 3600000000000) AS bucket,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_value,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def time_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h bucket aggregation (bucket_agg operator) — the
    reference's time-sliced executor loop (executor.go:239-252) as one
    grouped aggregation."""
    t = load_tables(spark, sf_dir)
    return ts_ops.bucket_agg(
        _ns_events(t),
        bucket_seconds=3600,
        keys=["event_type"],
        aggs=[
            F.count("*").alias("n"),
            (F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
             / F.count(F.lit(1))).alias("avg_value"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        ],
    )


@_q(
    "resample_first_last",
    """
    SELECT event_type,
           (epoch_ns(ts) - epoch_ns(ts) % 21600000000000) AS bucket,
           arg_min(value, ts) AS first_value,
           arg_max(value, ts) AS last_value
    FROM events GROUP BY 1, 2
    """,
)
def resample_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resample(): per-series 6h downsample keeping time-ordered
    first/last via min_by/max_by — one hash aggregate, no window
    shuffle. (ts is unique per series in the fixture, so first/last are
    well-defined.)"""
    t = load_tables(spark, sf_dir)
    bdf = ts_ops.time_bucket(_ns_events(t), 21600)
    return bdf.groupBy("event_type", "bucket").agg(
        F.min_by("value", "ts").alias("first_value"),
        F.max_by("value", "ts").alias("last_value"),
    )


@_q(
    "ts_ohlc",
    """
    SELECT event_type,
           (epoch_ns(ts) - epoch_ns(ts) % 21600000000000) AS bucket,
           arg_min(value, ts) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ts) AS close,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS vsum
    FROM events GROUP BY 1, 2
    """,
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ohlc(): 6h OHLC candles per series — time-ordered open/close
    (min_by/max_by on ts), high/low, count, decimal-exact sum; the
    financial/metering downsampling primitive as ONE partial-agg hash
    aggregate, no window."""
    t = load_tables(spark, sf_dir)
    return ts_ops.ohlc(_ns_events(t), 21600, series_cols=("event_type",))


@_q(
    "ts_m4_downsample",
    """
    SELECT event_type,
           (epoch_ns(ts) - epoch_ns(ts) % 10800000000000) AS bucket,
           min(epoch_ns(ts)) AS t_first,
           arg_min(value, ts) AS v_first,
           max(epoch_ns(ts)) AS t_last,
           arg_max(value, ts) AS v_last,
           (min(struct_pack(v := value, t := epoch_ns(ts)))).v AS v_min,
           (min(struct_pack(v := value, t := epoch_ns(ts)))).t AS t_min,
           (max(struct_pack(v := value, t := epoch_ns(ts)))).v AS v_max,
           (max(struct_pack(v := value, t := epoch_ns(ts)))).t AS t_max
    FROM events GROUP BY 1, 2
    """,
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m4_downsample(): M4 pixel-exact visualization downsampling
    (Jugel et al., VLDB 2014) at 3h buckets — per (series, bucket) the
    first/last/min/max points each WITH their timestamp, as ONE hash
    aggregate (the dashboard-rendering primitive: ~4 points per pixel
    column reproduce the raw line exactly). Value ties are pinned by
    lexicographic (value, ts) struct min/max in BOTH engines."""
    t = load_tables(spark, sf_dir)
    return ts_ops.m4_downsample(_ns_events(t), 10800, series_cols=("event_type",))


@_q(
    "ts_interp_align",
    """
    WITH l AS (
      SELECT user_id, event_id, epoch_ns(ts) AS t,
             CAST(NULL AS DOUBLE) AS rv, 1 AS tag
      FROM events WHERE event_type = 'click'),
    r AS (
      SELECT user_id, CAST(NULL AS BIGINT) AS event_id, epoch_ns(ts) AS t,
             value AS rv, 0 AS tag
      FROM events WHERE event_type = 'purchase'),
    u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
    m AS (
      SELECT *,
        last_value(CASE WHEN tag = 0 THEN rv END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, tag, rv
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN tag = 0 THEN t END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, tag, rv
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        first_value(CASE WHEN tag = 0 THEN rv END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, tag, rv
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN tag = 0 THEN t END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, tag, rv
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM u)
    SELECT user_id, event_id, t AS ts,
           CASE WHEN pt IS NULL THEN NULL
                WHEN t = pt THEN pv
                WHEN nt IS NULL THEN NULL
                ELSE pv + (nv - pv)
                     * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
           END AS interp
    FROM m WHERE tag = 1
    """,
)
def ts_interp_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """interp_align(): per-user linear interpolation of the purchase
    series at every click timestamp — the asof-join completion for
    cross-series arithmetic on unaligned clocks (TimescaleDB
    ``interpolate`` semantics; exact-ts matches return the sample, no
    extrapolation past either end). One shuffle on the key; two frames
    over one (ts, origin-tag) sort; the weight is an exact IEEE divide
    of integer-ns deltas, so both engines agree bitwise."""
    t = load_tables(spark, sf_dir)
    ev = _ns_events(t)
    left = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return ts_ops.interp_align(left, right, on=["user_id"])


@_q(
    "ts_bollinger",
    """
    WITH b AS (
      SELECT event_type, epoch_ns(ts) AS tns, value,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM events),
    w AS (
      SELECT event_type, tns, value,
             CAST(sum(CAST(q AS DECIMAL(38,0))) OVER fr AS DOUBLE) AS s1,
             CAST(sum(CAST(q AS DECIMAL(19,0)) * q) OVER fr AS DOUBLE) AS s2,
             CAST(count(value) OVER fr AS DOUBLE) AS n
      FROM b
      WINDOW fr AS (PARTITION BY event_type ORDER BY tns
                    RANGE BETWEEN 3600000000000 PRECEDING
                          AND CURRENT ROW))
    SELECT event_type, tns AS ts_ns, value,
           s1 / (n * 1000000.0) AS mid,
           sqrt(greatest(s2 / (n * 1000000000000.0)
                         - (s1 / (n * 1000000.0)) * (s1 / (n * 1000000.0)),
                         0.0)) AS sd,
           s1 / (n * 1000000.0)
             + 2.0 * sqrt(greatest(s2 / (n * 1000000000000.0)
                 - (s1 / (n * 1000000.0)) * (s1 / (n * 1000000.0)),
                 0.0)) AS upper,
           s1 / (n * 1000000.0)
             - 2.0 * sqrt(greatest(s2 / (n * 1000000000000.0)
                 - (s1 / (n * 1000000.0)) * (s1 / (n * 1000000.0)),
                 0.0)) AS lower,
           (value > s1 / (n * 1000000.0)
             + 2.0 * sqrt(greatest(s2 / (n * 1000000000000.0)
                 - (s1 / (n * 1000000.0)) * (s1 / (n * 1000000.0)), 0.0)))
           OR (value < s1 / (n * 1000000.0)
             - 2.0 * sqrt(greatest(s2 / (n * 1000000000000.0)
                 - (s1 / (n * 1000000.0)) * (s1 / (n * 1000000.0)), 0.0)))
             AS breach
    FROM w
    """,
)
def ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bollinger_bands(): trailing-1h volatility envelope per series —
    window mean ± 2·sd plus a breach flag (Bollinger 1992), the
    alerting band on every monitoring/trading chart. One rangeBetween
    frame (tie-safe: RANGE frames are value-based, so equal timestamps
    agree across engines); decimal sums on the 1e-6 grid, variance
    clamped at 0 before sqrt per the NaN-guard rule. Window span is a
    COST knob, not just semantics: Spark evaluates sliding frames
    O(rows x frame_rows) (no aggregate inversion), so trailing spans
    should stay a small multiple of the sampling interval — the first
    cut used 24h (~670 frame rows) and burned 97 s at sf0.1 vs ~2 s
    at 1h."""
    t = load_tables(spark, sf_dir)
    return ts_ops.bollinger_bands(
        _ns_events(t), 3600, n_sigma=2.0, series_cols=("event_type",)
    )


@_q(
    "ts_bollinger_wide",
    """
    WITH b AS (
      SELECT event_type, epoch_ns(ts) AS tns, value,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM events),
    w AS (
      SELECT event_type, tns, value,
             CAST(sum(CAST(q AS DECIMAL(38,0))) OVER fr AS DOUBLE) AS s1,
             CAST(sum(CAST(q AS DECIMAL(19,0)) * q) OVER fr AS DOUBLE) AS s2,
             CAST(count(value) OVER fr AS DOUBLE) AS n
      FROM b
      WINDOW fr AS (PARTITION BY event_type ORDER BY tns
                    RANGE BETWEEN 86400000000000 PRECEDING
                          AND CURRENT ROW))
    SELECT event_type, tns AS ts_ns, value,
           s1 / (n * 1000000.0) AS mid,
           sqrt(greatest(s2 / (n * 1000000000000.0)
                         - (s1 / (n * 1000000.0)) * (s1 / (n * 1000000.0)),
                         0.0)) AS sd,
           s1 / (n * 1000000.0)
             + 2.0 * sqrt(greatest(s2 / (n * 1000000000000.0)
                 - (s1 / (n * 1000000.0)) * (s1 / (n * 1000000.0)),
                 0.0)) AS upper,
           s1 / (n * 1000000.0)
             - 2.0 * sqrt(greatest(s2 / (n * 1000000000000.0)
                 - (s1 / (n * 1000000.0)) * (s1 / (n * 1000000.0)),
                 0.0)) AS lower,
           (value > s1 / (n * 1000000.0)
             + 2.0 * sqrt(greatest(s2 / (n * 1000000000000.0)
                 - (s1 / (n * 1000000.0)) * (s1 / (n * 1000000.0)), 0.0)))
           OR (value < s1 / (n * 1000000.0)
             - 2.0 * sqrt(greatest(s2 / (n * 1000000000000.0)
                 - (s1 / (n * 1000000.0)) * (s1 / (n * 1000000.0)), 0.0)))
             AS breach
    FROM w
    """,
)
def ts_bollinger_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bollinger_bands_prefix(): the SAME Bollinger semantics over a
    24h trailing window, computed by exact prefix-sum DIFFERENCES on
    the decimal 1e-6 grid instead of a sliding frame (r13-verdict ask
    #5 follow-through). Spark rescans bounded sliding frames per row
    (O(rows x frame_rows), no aggregate inversion) — ~690-row frames
    at this fixture's 24h span burned 97 s at sf0.1 in the r8 first
    cut; here every window is a GROWING frame (incremental O(n)) plus
    one union-asof lookup pass, so the wall is frame-width-invariant
    and the plan survives arbitrarily wide alerting windows at 100 TB.
    The oracle evaluates the plain RANGE frame — the hash certifies
    that cumulative differences on the integer grid reproduce the
    direct frame totals bit-for-bit (the quantized grid is exactly
    what makes aggregate inversion legal; float prefixes would
    cancel)."""
    t = load_tables(spark, sf_dir)
    return ts_ops.bollinger_bands_prefix(
        _ns_events(t), 86400, n_sigma=2.0, series_cols=("event_type",)
    )


@_q(
    "ts_theilsen_trend",
    """
    WITH b AS (
      SELECT event_type,
             (epoch_ns(ts) - epoch_ns(ts) % 7200000000000) AS bucket,
             epoch_ns(ts) AS t, value AS v
      FROM events),
    g AS (
      SELECT event_type, bucket,
             list_sort(list(struct_pack(t := t, v := v))) AS pts,
             count(*) AS n
      FROM b GROUP BY 1, 2 HAVING count(*) >= 2),
    s AS (
      SELECT event_type, bucket, n,
             list_filter(
               flatten(list_transform(range(1, n::INT), i ->
                 list_transform(range(i + 1, n::INT + 1), j ->
                   CASE WHEN pts[j].t <> pts[i].t THEN
                     (pts[j].v - pts[i].v)
                     / (CAST(pts[j].t - pts[i].t AS DOUBLE)
                        / 1000000000.0)
                   END))),
               x -> x IS NOT NULL) AS slopes
      FROM g)
    SELECT event_type, bucket, CAST(n AS BIGINT) AS n,
           list_sort(slopes)[(len(slopes) + 1) // 2] AS slope
    FROM s WHERE len(slopes) >= 1
    """,
)
def ts_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """theilsen_trend(): per-(series, 2h bucket) Theil-Sen robust
    slope — the median of all pairwise slopes (outlier-resistant where
    ts_linear_trend's least squares is not; Theil 1950 / Sen 1968).
    Quadratic in points-per-BUCKET by definition, so the bucket span
    is the scale contract: per-task pair count is fixed by sampling
    rate, and tasks fan out across (series, bucket). One hash
    aggregate to a bounded sorted array; slopes as nested index
    transforms; lower median by element indexing — exact IEEE trees on
    both engines, no quantization."""
    t = load_tables(spark, sf_dir)
    return ts_ops.theilsen_trend(
        _ns_events(t), 7200, series_cols=("event_type",)
    )


@_q(
    "agg_funnel",
    """
    WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
    s1 AS (SELECT user_id, min(t) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND t > t1
             AND t <= t1 + 604800000000000 GROUP BY 1),
    s3 AS (SELECT e.user_id, min(t) AS t3 FROM e
           JOIN s1 USING (user_id) JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND t > t2
             AND t <= t1 + 604800000000000 GROUP BY 1)
    SELECT s1.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS level,
           t1, t2, t3
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
)
def agg_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """funnel(): ordered view->click->purchase conversion within 7
    days of the first view (the ClickHouse windowFunnel / product-
    analytics primitive) — greedy-from-earliest chain, so the result
    is a pure function of the event set: each step is one grouped min
    on a filtered scan joined back on the user key (all shuffles
    user-keyed, co-partitioned by AQE)."""
    t = load_tables(spark, sf_dir)
    return ts_ops.funnel(
        _ns_events(t),
        steps=["view", "click", "purchase"],
        window_ns=604_800_000_000_000,
        type_col="event_type",
    )


@_q(
    "agg_retention_cohort",
    """
    WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
    f AS (SELECT user_id, min(t - t % 604800000000000) AS cohort FROM e
          WHERE event_type = 'signup' GROUP BY 1),
    a AS (SELECT DISTINCT user_id, t - t % 604800000000000 AS period
          FROM e WHERE event_type = 'click')
    SELECT cohort,
           CAST((period - cohort) // 604800000000000 AS BIGINT) AS offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM a JOIN f USING (user_id)
    WHERE period >= cohort GROUP BY 1, 2
    """,
)
def agg_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retention_cohorts(): weekly signup cohorts x click-activity
    offsets — the retention-triangle aggregate behind every product
    dashboard. First-touch is one grouped min; activity one DISTINCT
    over (user, week); the join is user-keyed and the final cell
    aggregate is tiny (weeks x offsets)."""
    t = load_tables(spark, sf_dir)
    return ts_ops.retention_cohorts(
        _ns_events(t),
        cohort_type="signup",
        active_type="click",
        period_ns=604_800_000_000_000,
        type_col="event_type",
    )


@_q(
    "evt_transitions",
    """
    WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t, event_id
               FROM events),
    s AS (SELECT user_id, event_type AS src,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY t, event_id) AS dst
          FROM e),
    c AS (SELECT src, dst, count(*) AS n FROM s
          WHERE dst IS NOT NULL GROUP BY 1, 2)
    SELECT src, dst, n,
           CAST(row_number() OVER (PARTITION BY src
                                   ORDER BY n DESC, dst ASC) AS BIGINT)
             AS rnk
    FROM c
    """,
)
def evt_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_transitions(): Markov transition counts over per-user
    event paths — the user-path-mining / Sankey "next action"
    primitive (Amplitude Pathfinder / GA path exploration class). The
    (ts, event_id) tiebreak makes each user's chain a pure function of
    the event set. Scale shape: one user-keyed lead window -> map-side-
    combined (src, dst) count -> rank window over the TRANSITION
    MATRIX (|types|^2 rows, independent of event volume). No self-
    joins, no collect."""
    t = load_tables(spark, sf_dir)
    out = ts_ops.event_transitions(
        _ns_events(t), type_col="event_type"
    )
    return out.withColumn("rnk", F.col("rnk").cast("long"))


@_q(
    "evt_top_paths",
    """
    WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t, event_id
               FROM events),
    o AS (SELECT *, CASE WHEN t - lag(t) OVER w > 1800000000000
                         THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
    s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM o),
    p AS (SELECT event_type AS a,
                 lead(event_type, 1) OVER sw AS b,
                 lead(event_type, 2) OVER sw AS c
          FROM s WINDOW sw AS (PARTITION BY user_id, sid
                               ORDER BY t, event_id))
    SELECT a || '>' || b || '>' || c AS path, count(*) AS n
    FROM p WHERE b IS NOT NULL AND c IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20
    """,
)
def evt_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top_paths(): the most common length-3 event sequences inside
    gap-based user sessions (30-min idle cutoff) — the product-
    analytics "top paths" view (ClickHouse sequenceCount / Amplitude
    Pathfinder class), one level above evt_transitions' single-step
    matrix. Session breaks derive from one user-keyed lag window
    (the sessionize rule), path steps from a (user, session)-keyed
    lead window sharing the same user partitioning (ONE Exchange, two
    sorts), then a map-side-combined count on the path string and a
    deterministic TakeOrdered top-20 (count desc, path asc — path is
    unique in the grouped table, so the k-boundary cannot depend on
    engine row order). The (ts, event_id) tiebreak makes every chain
    a pure function of the event set."""
    t = load_tables(spark, sf_dir)
    return ts_ops.event_paths_topk(
        _ns_events(t), k=20, path_len=3, type_col="event_type"
    )


@_q(
    "ts_error_budget_burn",
    """
    WITH e AS (SELECT epoch_ns(ts) AS t, event_type FROM events),
    b AS (SELECT t - t % 1800000000000 AS bucket,
                 CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                          END) AS BIGINT) AS err_n,
                 count(*) AS total_n
          FROM e GROUP BY 1),
    w AS (SELECT bucket, err_n, total_n,
                 CAST(sum(err_n) OVER sw AS BIGINT) AS s_err,
                 CAST(sum(total_n) OVER sw AS BIGINT) AS s_total,
                 CAST(sum(err_n) OVER lw AS BIGINT) AS l_err,
                 CAST(sum(total_n) OVER lw AS BIGINT) AS l_total
          FROM b
          WINDOW sw AS (ORDER BY bucket
                        ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
                 lw AS (ORDER BY bucket
                        ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))
    SELECT bucket, err_n, total_n, s_err, s_total, l_err, l_total,
           (s_err / CAST(s_total AS DOUBLE) > 0.1)
           AND (l_err / CAST(l_total AS DOUBLE) > 0.1) AS alert
    FROM w
    """,
)
def ts_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """burn_rate(): multi-window SLO burn-rate alerting (the Google
    SRE-workbook rule — fast short window AND blip-suppressing long
    window must both exceed burn_threshold x budget). 30-min buckets,
    1h short / 6h long trailing windows, 5% SLO at 2x burn. Scale
    design: error rates aggregate per BUCKET first (one map-side-
    combined hash aggregate over raw events), trailing windows run
    over the bucket series — cardinality = time-range / 30 min,
    independent of event volume — NEVER as row-level range frames
    (O(rows x frame), the r8 ts_bollinger lesson). Alert booleans are
    integer-count divisions: bit-identical on both engines."""
    t = load_tables(spark, sf_dir)
    return ts_ops.burn_rate(
        _ns_events(t),
        bucket_seconds=1800,
        short_buckets=2,
        long_buckets=12,
        error_type="error",
        slo_error_rate=0.05,
        burn_threshold=2.0,
        type_col="event_type",
    )


@_q(
    "evt_activity_heatmap",
    """
    SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
    """,
)
def evt_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap — the engagement
    dashboard's standard aggregate: one partial+final hash aggregate
    over codegen date parts, cells = 7x24 regardless of event volume.
    Cross-engine trap pinned: DuckDB's dayofweek is 0-6 Sunday=0 while
    Spark's is 1-7 Sunday=1 — the oracle shifts (+1) and both sides
    cast to BIGINT (Spark date parts are int32; schema is compared).
    Sessions pin UTC, so bucketing is timezone-stable. Window slot in
    round 11."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    ts = _ts_t(ev)
    return (
        ev.groupBy(
            F.dayofweek(ts).cast("long").alias("dow"),
            F.hour(ts).cast("long").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total"),
        )
    )


@_q(
    "gapfill_locf",
    """
    WITH r AS (
      SELECT event_type,
             (epoch_ns(ts) - epoch_ns(ts) % 43200000000000) AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS value
      FROM events WHERE value < 30.0 GROUP BY 1, 2),
    bounds AS (
      SELECT event_type, min(bucket) AS b0, max(bucket) AS b1 FROM r GROUP BY 1),
    spine AS (
      SELECT event_type, unnest(generate_series(b0, b1, 43200000000000)) AS bucket
      FROM bounds)
    SELECT s.event_type, s.bucket,
           last_value(r.value IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM spine s LEFT JOIN r USING (event_type, bucket)
    """,
)
def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gap_fill(locf): 12h resample of a sparse series (value<30 keeps
    ~6% of rows so real gaps exist), spine generated distributively with
    sequence+explode, LOCF via last(ignorenulls) running window."""
    t = load_tables(spark, sf_dir)
    res = ts_ops.bucket_agg(
        _ns_events(t).filter(F.col("value") < 30.0),
        bucket_seconds=43200,
        keys=["event_type"],
        aggs=[
            (F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
             / F.count(F.lit(1))).alias("value")
        ],
    )
    return ts_ops.gap_fill(
        res, bucket_seconds=43200, value_col="value",
        series_cols=("event_type",), fill="locf",
    )


@_q(
    "gapfill_interp",
    """
    WITH r AS (
      SELECT event_type,
             (epoch_ns(ts) - epoch_ns(ts) % 43200000000000) AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS value
      FROM events WHERE value < 30.0 GROUP BY 1, 2),
    bounds AS (
      SELECT event_type, min(bucket) AS b0, max(bucket) AS b1 FROM r GROUP BY 1),
    spine AS (
      SELECT event_type, unnest(generate_series(b0, b1, 43200000000000)) AS bucket
      FROM bounds),
    j AS (
      SELECT s.event_type, s.bucket, r.value
      FROM spine s LEFT JOIN r USING (event_type, bucket)),
    w AS (
      SELECT event_type, bucket, value,
             last_value(value IGNORE NULLS) OVER wprev AS pv,
             last_value(CASE WHEN value IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER wprev AS pb,
             first_value(value IGNORE NULLS) OVER wnext AS nv,
             first_value(CASE WHEN value IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER wnext AS nb
      FROM j
      WINDOW wprev AS (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wnext AS (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, bucket,
           CASE WHEN value IS NOT NULL THEN value
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  pv + (nv - pv) *
                    (((bucket - pb) // 43200000000000)::DOUBLE /
                     ((nb - pb) // 43200000000000)::DOUBLE)
           END AS value
    FROM w
    """,
)
def gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gap_fill(interp): linear interpolation across interior gaps of a
    sparse 12h resample (leading/trailing gaps stay NULL). The gap
    fraction is computed in bucket units — integer-exact before the
    double divide — so the interpolated values hash-match the oracle
    bit for bit."""
    t = load_tables(spark, sf_dir)
    res = ts_ops.bucket_agg(
        _ns_events(t).filter(F.col("value") < 30.0),
        bucket_seconds=43200,
        keys=["event_type"],
        aggs=[
            (F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
             / F.count(F.lit(1))).alias("value")
        ],
    )
    return ts_ops.gap_fill(
        res, bucket_seconds=43200, value_col="value",
        series_cols=("event_type",), fill="interp",
    )


@_q(
    "asof_join_backward",
    """
    SELECT l.event_id, l.value, r.value AS err_value, epoch_us(r.ts) AS err_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
      ON l.user_id = r.user_id AND r.ts <= l.ts
    """,
)
def asof_join_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_join(): for each purchase, the latest error at-or-before it
    for the same user — union+window implementation, ONE shuffle on the
    key, both sides streamable at 100 TB. Matches DuckDB's ASOF LEFT
    JOIN semantics."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "value")
    joined = ts_ops.asof_join(left, right, on=["user_id"], ts_col="ts")
    return joined.select(
        "event_id",
        "value",
        F.col("value_right").alias("err_value"),
        _ts_us(joined, "ts_right").alias("err_ts_us"),
    )


@_q(
    "ts_sessionize",
    """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) AS t, event_id FROM events),
    m AS (
      SELECT user_id, t, event_id,
             CASE WHEN lag(t) OVER w IS NULL
                       OR t - lag(t) OVER w > 1800000000000
                  THEN t END AS start_t
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
    SELECT user_id, event_id, t AS ts_ns,
           max(start_t) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
    FROM m
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sessionize(): 30-minute-gap session labeling per user — every
    event tagged with its session's first-row timestamp (the stable,
    coordinate-free session id). lag + running max share one window
    sort, so the plan is a single shuffle on the user key. The
    row-labeling complement of the streaming session_window
    aggregate."""
    t = load_tables(spark, sf_dir)
    ev = _ns_events(t).select("user_id", "ts", "event_id")
    out = ts_ops.sessionize(
        ev, gap_seconds=1800, series_cols=("user_id",), ts_col="ts",
        order_extra=("event_id",),
    )
    return out.select(
        "user_id", "event_id", F.col("ts").alias("ts_ns"), "session_id"
    )


@_q(
    "agg_mode",
    """
    WITH c AS (
      SELECT event_type, user_id, count(*) AS n
      FROM events GROUP BY event_type, user_id),
    r AS (
      SELECT event_type, user_id, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, user_id ASC) AS rn
      FROM c)
    SELECT event_type, user_id AS mode_user, n AS mode_n
    FROM r WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most frequent user per event
    type, ties broken by the smaller id (Spark's F.mode breaks ties
    arbitrarily — unacceptable for a certified result, so the mode is
    a count aggregate + one row_number window with a pinned order).
    Two map-side-combined aggregations; the window partitions on the
    small group key."""
    t = load_tables(spark, sf_dir)
    c = t["events"].groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("user_id").alias("mode_user"),
            F.col("n").alias("mode_n"),
        )
    )


@_q(
    "ts_seasonal_decompose",
    """
    WITH e AS (SELECT event_type, epoch_ns(ts) AS t, value FROM events),
    b AS (
      SELECT event_type, (t - t % 21600000000000) AS bucket,
             (t - t % 21600000000000) // 21600000000000 AS bi,
             floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*) * 1000000.0 + 0.5) / 1000000.0 AS value
      FROM e GROUP BY 1, 2, 3),
    tr AS (
      SELECT *, count(*) OVER w AS nf,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s,
             first(value) OVER w AS fv, last(value) OVER w AS lv
      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bi
                          RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
    t2 AS (
      SELECT event_type, bucket, bi, value,
             CASE WHEN nf = 5
                  THEN (s - 0.5 * fv - 0.5 * lv) / 4.0 END AS trend
      FROM tr),
    ph AS (
      SELECT event_type, bi % 4 AS phase,
             CAST(sum(CAST(floor((value - trend) * 1000000.0 + 0.5)
                           / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE)
               / count(value - trend) AS s_raw
      FROM t2 GROUP BY 1, 2),
    ctr AS (
      SELECT event_type,
             CAST(sum(CAST(floor(s_raw * 1000000.0 + 0.5) / 1000000.0
                           AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS s_mean
      FROM ph GROUP BY 1),
    sfin AS (SELECT ph.event_type, ph.phase, s_raw - s_mean AS seasonal
             FROM ph JOIN ctr USING (event_type))
    SELECT t2.event_type, t2.bucket, t2.value, t2.trend, s.seasonal,
           t2.value - t2.trend - s.seasonal AS residual
    FROM t2 JOIN sfin s
      ON t2.event_type = s.event_type AND t2.bi % 4 = s.phase
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seasonal_decompose(): classical additive decomposition of each
    series' 6h means into trend + daily seasonal (period 4) + residual
    — the capacity-planning / anomaly-baseline split. Even period uses
    the textbook 2xMA (5-point frame, half weights at the ends), so a
    perfectly periodic season averages out of the trend exactly
    (pinned by unit test). Every mean is an exact decimal sum / count
    and the final subtractions a pinned double tree — bit-identical
    to the oracle's identical windows."""
    t = load_tables(spark, sf_dir)
    return ts_ops.seasonal_decompose(
        _ns_events(t), period=4, bucket_seconds=21600,
        series_cols=("event_type",),
    )


@_q(
    "pipeline_anomaly",
    """
    WITH e AS (SELECT event_type, epoch_ns(ts) AS t, value FROM events),
    b AS (
      SELECT event_type, (t - t % 21600000000000) AS bucket,
             (t - t % 21600000000000) // 21600000000000 AS bi,
             floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*) * 1000000.0 + 0.5) / 1000000.0 AS value
      FROM e GROUP BY 1, 2, 3),
    tr AS (
      SELECT *, count(*) OVER w AS nf,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s,
             first(value) OVER w AS fv, last(value) OVER w AS lv
      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bi
                          RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
    t2 AS (
      SELECT event_type, bucket, bi, value,
             CASE WHEN nf = 5
                  THEN (s - 0.5 * fv - 0.5 * lv) / 4.0 END AS trend
      FROM tr),
    ph AS (
      SELECT event_type, bi % 4 AS phase,
             CAST(sum(CAST(floor((value - trend) * 1000000.0 + 0.5)
                           / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE)
               / count(value - trend) AS s_raw
      FROM t2 GROUP BY 1, 2),
    ctr AS (
      SELECT event_type,
             CAST(sum(CAST(floor(s_raw * 1000000.0 + 0.5) / 1000000.0
                           AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS s_mean
      FROM ph GROUP BY 1),
    sfin AS (SELECT ph.event_type, ph.phase, s_raw - s_mean AS seasonal
             FROM ph JOIN ctr USING (event_type)),
    d AS (
      SELECT t2.event_type, t2.bucket, t2.value,
             t2.value - t2.trend - s.seasonal AS residual
      FROM t2 JOIN sfin s
        ON t2.event_type = s.event_type AND t2.bi % 4 = s.phase),
    q AS (
      SELECT event_type, bucket, value,
             CASE WHEN residual IS NOT NULL
                  THEN floor(residual * 1000000.0 + 0.5) END AS qr
      FROM d),
    st AS (
      SELECT event_type, count(qr) AS n,
             CAST(sum(CAST(qr AS DECIMAL(18,0))) AS DOUBLE) AS s,
             CAST(sum(CAST(qr AS DECIMAL(18,0)) * CAST(qr AS DECIMAL(18,0)))
                  AS DOUBLE) AS s2
      FROM q GROUP BY 1),
    zc AS (
      SELECT q.event_type, q.bucket, q.value,
             CASE WHEN sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0)) > 0
                       AND qr IS NOT NULL
                  THEN (qr - s / n)
                       / sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0))
             END AS zraw
      FROM q JOIN st USING (event_type))
    SELECT event_type, bucket, value,
           floor(zraw * 1000000.0 + 0.5) / 1000000.0 AS z,
           abs(floor(zraw * 1000000.0 + 0.5) / 1000000.0) > 2.5 AS anomaly
    FROM zc
    """,
)
def pipeline_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring anomaly pipeline END TO END in one certified
    plan: seasonal_decompose strips trend + daily seasonal from each
    series' 6h means, then each residual is z-scored against its own
    series' residual distribution and flagged at |z| > 2.5 — anomalies
    relative to the seasonal baseline, not the raw level (a nightly
    dip is normal; the same value at noon is not). The residual
    moments run on the 1e-6 quantized integer grid with DECIMAL sums
    (qr^2 reaches ~1e16 — a double sum would lose integer exactness
    past 2^53), the variance/sqrt/z tree is the identical IEEE
    expression in both engines, and edge buckets without a trend stay
    NULL through the whole chain. Composition cost: one extra
    broadcast of the |series|-row moment table on top of the decompose
    plan."""
    t = load_tables(spark, sf_dir)
    dec = ts_ops.seasonal_decompose(
        _ns_events(t), period=4, bucket_seconds=21600,
        series_cols=("event_type",),
    )
    qr = F.when(
        F.col("residual").isNotNull(),
        F.floor(F.col("residual") * F.lit(1000000.0) + F.lit(0.5)),
    )
    qd = dec.select("event_type", "bucket", "value", qr.alias("qr"))
    qdec = F.col("qr").cast("decimal(18,0)")
    st = qd.groupBy("event_type").agg(
        F.count("qr").alias("n"),
        F.sum(qdec).cast("double").alias("s"),
        F.sum(qdec * qdec).cast("double").alias("s2"),
    )
    j = qd.join(F.broadcast(st), "event_type")
    mean = F.col("s") / F.col("n")
    # variance clamped at 0 before sqrt: an underflowed tiny-negative
    # variance would give sd = NaN, and Spark's NaN > 0 is TRUE — the
    # guard below would pass and z would silently floor to 0.0 while
    # the oracle's NaN stays NaN (cross-engine hash flip). Clamped,
    # zero-variance residual distributions take the NULL branch in
    # BOTH engines.
    sd = F.sqrt(F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0)))
    zraw = F.when(
        (sd > 0) & F.col("qr").isNotNull(), (F.col("qr") - mean) / sd
    )
    z = F.floor(zraw * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    return j.select(
        "event_type", "bucket", "value",
        z.alias("z"), (F.abs(z) > F.lit(2.5)).alias("anomaly"),
    )


#: query pattern for ts_pattern_topk — a V-shape recovery; z-normalized
#: ONCE here in python and the identical literals inlined into BOTH the
#: Spark plan and the oracle SQL (pattern_topk recomputes the same zp
#: from the raw pattern with the same float ops)
_PAT = [3.0, 1.0, 0.0, 1.0, 3.0, 5.0]
_PAT_M = len(_PAT)


def _pattern_oracle_sql() -> str:
    """Explicit-fold oracle for ts_pattern_topk: window moments and the
    distance are written as the SAME left-to-right parenthesized chains
    Spark's F.aggregate produces (init 0.0, index order), so every
    float op matches bit-for-bit."""
    m = _PAT_M
    mu0 = sum(_PAT) / m
    sd0 = (sum(x * x for x in _PAT) / m - mu0 * mu0) ** 0.5
    zp = [(x - mu0) / sd0 for x in _PAT]
    w = [f"vs[start + {i}]" for i in range(m)]
    chain = "0.0"
    for t in w:
        chain = f"({chain} + {t})"
    s1 = chain
    chain = "0.0"
    for t in w:
        chain = f"({chain} + {t} * {t})"
    s2 = chain
    mu = f"({s1} / {float(m)!r})"
    sd = f"sqrt(greatest({s2} / {float(m)!r} - {mu} * {mu}, 0.0))"
    chain = "0.0"
    for i, t in enumerate(w):
        z = f"(({t} - {mu}) / {sd})"
        chain = f"({chain} + ({z} - {zp[i]!r}) * ({z} - {zp[i]!r}))"
    dist = f"floor({chain} * 1000000.0 + 0.5) / 1000000.0"
    return f"""
    WITH b AS (
      SELECT event_type,
             epoch_ns(ts) - epoch_ns(ts) % 21600000000000 AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
               AS m_val
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    arr AS (
      SELECT event_type, list(m_val ORDER BY bucket) AS vs,
             list(bucket ORDER BY bucket) AS bs
      FROM b GROUP BY 1),
    st AS (
      SELECT event_type, vs, bs,
             unnest(range(1, len(vs) - {m} + 2)) AS start
      FROM arr WHERE len(vs) >= {m})
    SELECT event_type, bs[start] AS start_bucket, {dist} AS dist
    FROM st WHERE {sd} > 0
    ORDER BY dist ASC, event_type ASC, start_bucket ASC LIMIT 20
    """


@_q("ts_pattern_topk", _pattern_oracle_sql())
def ts_pattern_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series SIMILARITY SEARCH (operators/timeseries.py
    pattern_topk): the 20 windows across all series most similar to a
    V-shaped query pattern under z-normalized Euclidean distance — the
    "find more shaped like this" primitive of the distributed
    data-series-search literature (Odyssey VLDB'23 lineage). Raw rows
    collapse to per-series 6h decimal means once; per-series vectors
    are bounded by retention (the short-pattern regime — matrix
    profile serves the all-pairs case); every window start explodes
    into a z-normalized HOF fold whose float tree the oracle writes
    out term by term, so the global top-k cut (TakeOrdered on the
    quantized distance with full tie-breaks) is engine-exact."""
    t = load_tables(spark, sf_dir)
    return ts_ops.pattern_topk(
        _ns_events(t), _PAT, bucket_seconds=21600, k=20,
        series_cols=("event_type",),
    )


@_q(
    "ts_moving_time_avg",
    """
    SELECT event_type, epoch_us(ts) AS ts_us, value,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / count(value) OVER w AS moving_avg
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_ns(ts)
                 RANGE BETWEEN 21600000000000 PRECEDING AND CURRENT ROW)
    """,
)
def ts_moving_time_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """moving_time_agg(): trailing 6h TIME-RANGE average per series —
    the rangeBetween frame that handles irregular sampling correctly
    where a row-count frame cannot. One shuffle on the series key;
    DECIMAL frame sums make the result independent of the engine's
    frame-evaluation order, so it hashes against the oracle's
    identical RANGE window."""
    t = load_tables(spark, sf_dir)
    ev = _ns_events(t)
    out = ts_ops.moving_time_agg(
        ev, 21600, series_cols=("event_type",), how="avg"
    )
    return out.select(
        "event_type",
        _ts_us(out).alias("ts_us"),
        "value",
        "moving_avg",
    )


@_q(
    "join_range_lookup",
    """
    WITH dims(event_type, lo, hi, tier) AS (VALUES
      ('click', 0.0, 50.0, 'c-low'), ('click', 50.0, 1e6, 'c-high'),
      ('purchase', 0.0, 100.0, 'p-low'), ('purchase', 100.0, 1e6, 'p-high'))
    SELECT e.event_id, e.event_type, e.value, d.tier
    FROM events e LEFT JOIN dims d
      ON e.event_type = d.event_type
     AND e.value >= d.lo AND e.value < d.hi
    """,
)
def join_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """range_lookup(): point-in-range dimension banding per key — each
    event matched to its event type's value band. Planned as the
    union+window trick (one shuffle on the key, NO join node — the
    as-of shape) instead of the theta join the oracle writes; keyless
    lookups fall back to a broadcast theta join over the small band
    table. Unbanded event types stay with NULL tier (left
    semantics)."""
    from boostdb_spark.operators.joins import range_lookup

    t = load_tables(spark, sf_dir)
    facts = t["events"].select("event_id", "event_type", "value")
    dims = spark.createDataFrame(
        [
            ("click", 0.0, 50.0, "c-low"),
            ("click", 50.0, 1e6, "c-high"),
            ("purchase", 0.0, 100.0, "p-low"),
            ("purchase", 100.0, 1e6, "p-high"),
        ],
        "event_type string, lo double, hi double, tier string",
    )
    return range_lookup(
        facts, dims, "value", keys=["event_type"], how="left"
    )


@_q(
    "asof_join_nearest",
    """
    WITH l AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
    r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'error'),
    p AS (
      SELECT l.event_id, r.ts AS rts, r.value AS rval,
             row_number() OVER (
               PARTITION BY l.event_id
               ORDER BY abs(epoch_ns(l.ts) - epoch_ns(r.ts)),
                        CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END
             ) AS rn
      FROM l JOIN r USING (user_id))
    SELECT l.event_id, l.value,
           p.rval AS err_value, epoch_us(p.rts) AS err_ts_us
    FROM l LEFT JOIN (SELECT event_id, rts, rval FROM p WHERE rn = 1) p
      USING (event_id)
    """,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_join(direction='nearest'): for each purchase, the error
    CLOSEST in time for the same user, ties toward the earlier row —
    pandas merge_asof nearest semantics. Both the backward and forward
    carries evaluate over ONE sorted window pass (same partition+order
    key), so the plan still has exactly one shuffle and no join node;
    the oracle enumerates pairs and ranks by absolute distance."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    joined = ts_ops.asof_join(
        left, right, on=["user_id"], ts_col="ts", direction="nearest"
    )
    return joined.select(
        "event_id",
        "value",
        F.col("value_right").alias("err_value"),
        _ts_us(joined, "ts_right").alias("err_ts_us"),
    )


@_q(
    "scan_compressed_blocks",
    """
    SELECT event_type AS series, epoch_us(ts) AS ts_us, value
    FROM events WHERE event_type IN ('click', 'error')
    """,
)
def scan_compressed_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's storage heart round-tripped: series compressed
    into Gorilla-style blocks (delta-of-delta timestamps + XOR float
    encoding — M3DB's block scheme, operators/tscompress.py) and
    decoded back. decode(encode(x)) must be BIT-exact, so the oracle
    is simply the raw table — any drift in the bit packing flips the
    hash. Both stages are partition-local Arrow passes; the only
    shuffle is the per-series groupBy."""
    from boostdb_spark.operators import tscompress as tc

    t = load_tables(spark, sf_dir)
    ev = _ns_events(t).filter(F.col("event_type").isin("click", "error"))
    blocks = tc.compress_series(
        ev, series_col="event_type", ts_col="ts", value_col="value"
    )
    points = tc.decompress_series(blocks)
    # integer div: float division would round ns-scale longs
    return points.select(
        "series", F.expr("ts div 1000").alias("ts_us"), "value"
    )


@_q(
    "join_interval_overlap",
    """
    SELECT l.event_id AS purchase_id, r.event_id AS error_id
    FROM (SELECT event_id, user_id, epoch_ns(ts) AS s,
                 epoch_ns(ts) + 7200000000000 AS e
          FROM events WHERE event_type = 'purchase') l
    JOIN (SELECT event_id, user_id, epoch_ns(ts) AS s,
                 epoch_ns(ts) + 3600000000000 AS e
          FROM events WHERE event_type = 'error') r
      ON l.user_id = r.user_id AND l.s <= r.e AND r.s <= l.e
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned interval-overlap join (operators/joins.py::
    interval_overlap_join): purchase windows [ts, ts+2h] against error
    windows [ts, ts+1h] per user. The theta condition becomes an
    equi-join on (user, hour-bucket) — candidates bounded by
    intervals-per-bucket, no per-key cartesian; multi-bucket pairs
    dedup on the pair key. The oracle is the plain overlap theta join."""
    from boostdb_spark.operators.joins import interval_overlap_join

    ev = _ns_events(load_tables(spark, sf_dir))
    hour = 3600 * 1_000_000_000
    left = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("s"), (F.col("ts") + 2 * hour).alias("e"),
    )
    right = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id",
        F.col("ts").alias("s"), (F.col("ts") + hour).alias("e"),
    )
    pairs = interval_overlap_join(
        left, right, on=["user_id"], bucket=hour,
        left_range=("s", "e"), right_range=("s", "e"),
        pair_key=["purchase_id", "error_id"],
    )
    return pairs.select("purchase_id", "error_id")


@_q(
    "asof_join_tolerance",
    """
    WITH j AS (
      SELECT l.event_id, l.value, l.ts AS l_ts, r.value AS r_val, r.ts AS r_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
        ON l.user_id = r.user_id AND r.ts <= l.ts)
    SELECT event_id, value,
           CASE WHEN r_ts IS NOT NULL
                 AND epoch_ns(l_ts) - epoch_ns(r_ts) <= 3600000000000
                THEN r_val END AS err_value,
           CASE WHEN r_ts IS NOT NULL
                 AND epoch_ns(l_ts) - epoch_ns(r_ts) <= 3600000000000
                THEN epoch_us(r_ts) END AS err_ts_us
    FROM j
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_join() with a max-gap tolerance (pandas merge_asof
    semantics): matches further than 1h behind the left row are nulled
    — the left row survives (left-join contract) but stale state never
    leaks in. Same single-shuffle union+window plan; tolerance is a
    post-window conditional projection."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "value")
    joined = ts_ops.asof_join(
        left, right, on=["user_id"], ts_col="ts",
        tolerance_ns=3600 * 1_000_000_000,
    )
    return joined.select(
        "event_id",
        "value",
        F.col("value_right").alias("err_value"),
        _ts_us(joined, "ts_right").alias("err_ts_us"),
    )


# ===========================================================================
# 2.6 — streaming window semantics, certified in batch mode (the SAME
# helper builds the streaming plans; tests/test_streaming.py proves
# streaming == batch on identical input)
# ===========================================================================


def _events_with_time(t) -> DataFrame:
    """events with ts_t as TimestampType (µs — when the fixture is
    ns-native this truncates exactly as DuckDB truncates TIMESTAMP(NANOS)
    parquet; when it is already timestamp[us] it passes through)."""
    ev = t["events"]
    return ev.withColumn("ts_t", _ts_t(ev).cast("timestamp"))


@_q(
    "window_sliding_agg",
    """
    WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
    x AS (SELECT event_type, value,
                 unnest(list_transform(range(0, 4),
                        k -> (us - us % 900000000) - k * 900000000)) AS ws
          FROM e)
    SELECT ws AS win_start_us, ws + 3600000000 AS win_end_us, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM x GROUP BY 1, 2, 3
    """,
)
def window_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1h long, 15m slide): each row lands in
    4 overlapping windows. The streaming sliding_agg helper run in batch
    mode; oracle enumerates the 4 aligned window starts per row.
    SURVEY.md section 2.6 (tumbling/sliding/session ABSENT in the
    reference)."""
    from boostdb_spark.streaming.windows import sliding_agg

    t = load_tables(spark, sf_dir)
    out = sliding_agg(
        _events_with_time(t),
        duration="1 hour",
        slide="15 minutes",
        keys=["event_type"],
        aggs=[
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        ],
        ts_col="ts_t",
    )
    return out.select(
        F.unix_micros("win_start").alias("win_start_us"),
        F.unix_micros("win_end").alias("win_end_us"),
        "event_type",
        "n",
        "sum_value",
    )


@_q(
    "window_session_agg",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
    m AS (SELECT user_id, us, value,
                 CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                           >= 1800000000
                      OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                 THEN 1 ELSE 0 END AS brk
          FROM e),
    i AS (SELECT user_id, us, value,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM m)
    SELECT user_id, min(us) AS win_start_us,
           max(us) + 1800000000 AS win_end_us,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM i GROUP BY user_id, sid
    """,
)
def window_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30m inactivity gap) per user — the streaming
    session_agg helper in batch mode; oracle is the classic
    gaps-and-islands formulation (new session when the gap since the
    previous event >= 30m). Rows with equal (user_id, ts) merge
    identically in both engines."""
    from boostdb_spark.streaming.windows import session_agg

    t = load_tables(spark, sf_dir)
    out = session_agg(
        _events_with_time(t),
        gap="30 minutes",
        keys=["user_id"],
        aggs=[
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        ],
        ts_col="ts_t",
    )
    return out.select(
        "user_id",
        F.unix_micros("win_start").alias("win_start_us"),
        F.unix_micros("win_end").alias("win_end_us"),
        "n",
        "sum_value",
    )


@_q(
    "join_full_outer",
    """
    SELECT coalesce(c.c_custkey, o.o_custkey) AS k,
           count(o.o_orderkey) AS n_orders,
           count(c.c_name) AS n_cust
    FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
    FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with unmatched rows on BOTH sides (customers
    filtered to even keys so odd-key orders dangle) — completes the
    declared join surface (query/parser/joinparser.go:84-201 parses,
    queryops.go:60-66 drops; outer joins ABSENT per SURVEY.md 2.3)."""
    t = load_tables(spark, sf_dir)
    c = t["customer"].filter(F.col("c_custkey") % 2 == 0)
    return (
        c.join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "full_outer")
        .groupBy(F.coalesce("c_custkey", "o_custkey").alias("k"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.count("c_name").alias("n_cust"),
        )
    )


@_q(
    "asof_join_forward",
    """
    SELECT l.event_id, l.value, r.value AS next_err_value,
           epoch_us(r.ts) AS next_err_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
      ON l.user_id = r.user_id AND r.ts >= l.ts
    """,
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each purchase, the user's NEXT error at
    or after it (asof_join direction='forward') — same union+window
    plan as backward, with the frame reversed: one shuffle on the key,
    no range explosion."""
    t = load_tables(spark, sf_dir)
    e = t["events"]
    left = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    out = ts_ops.asof_join(
        left, right, on=["user_id"], ts_col="ts", direction="forward"
    )
    return out.select(
        "event_id",
        "value",
        F.col("value_right").alias("next_err_value"),
        _ts_us(out, "ts_right").alias("next_err_ts_us"),
    )


@_q(
    "window_counter_increase",
    """
    SELECT event_id,
           CASE WHEN lag(value) OVER w IS NULL THEN NULL
                WHEN value >= lag(value) OVER w THEN value - lag(value) OVER w
                ELSE value END AS increase
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    """,
)
def window_counter_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """counter_increase(): monotonic-counter delta with reset handling
    (Prometheus increase convention) — the monitoring-TSDB staple the
    reference's 'rich time-series functions' goal implies
    (reference README.md:8)."""
    t = load_tables(spark, sf_dir)
    return ts_ops.counter_increase(
        t["events"],
        value_col="value",
        series_cols=("event_type",),
        ts_col="ts",
        order_extra=("event_id",),
    ).select("event_id", "increase")


@_q(
    "ts_zscore_anomaly",
    """
    WITH w AS (
      SELECT event_id, value,
             count(value) OVER win AS n,
             sum(CAST(value AS DECIMAL(18,6))) OVER win AS s,
             sum(CAST(value * value AS DECIMAL(28,12))) OVER win AS ss
      FROM events
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT event_id,
           round(CASE WHEN n >= 20
                 AND (CAST(ss AS DOUBLE)
                      - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                     / (n - 1) > 0
                THEN (value - CAST(s AS DOUBLE) / n)
                     / sqrt((CAST(ss AS DOUBLE)
                             - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                            / (n - 1))
           END, 6) AS z,
           abs(CASE WHEN n >= 20
                 AND (CAST(ss AS DOUBLE)
                      - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                     / (n - 1) > 0
                THEN (value - CAST(s AS DOUBLE) / n)
                     / sqrt((CAST(ss AS DOUBLE)
                             - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                            / (n - 1))
           END) > 3.0 AS is_anomaly
    FROM w
    """,
)
def ts_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zscore_anomaly(): each point scored against the mean/std of the
    20 rows before it (self excluded) per series, |z| > 3 flag — the
    monitoring-TSDB outlier primitive. Frame sums
    accumulate as DECIMAL; z is rounded to 6dp for the cross-engine
    hash (the double->DECIMAL cast of v*v truncates in DuckDB but
    rounds in Spark — 1-ulp noise, far below the rounding step; same
    precedent as the suite's stddev rule). The flag derives from the
    UNROUNDED z on both sides."""
    t = load_tables(spark, sf_dir)
    out = ts_ops.zscore_anomaly(
        t["events"],
        window_rows=20,
        value_col="value",
        series_cols=("event_type",),
        ts_col="ts",
        order_extra=("event_id",),
        threshold=3.0,
    )
    return out.select("event_id", F.round("z", 6).alias("z"), "is_anomaly")


@_q(
    "ts_latest_point",
    """
    SELECT event_type,
           max(epoch_us(ts)) AS last_ts_us,
           arg_max(value, ts) AS last_value,
           arg_max(event_id, ts) AS last_event_id
    FROM events GROUP BY event_type
    """,
)
def ts_latest_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest datapoint per series (SELECT last(value) — the TSDB
    staple behind dashboards and liveness checks): one hash aggregate
    with max_by, no window shuffle, no sort. (ts is unique per series
    in the fixture, so the argmax is well-defined.)"""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    ev = ev.withColumn("_us", _ts_us(ev))
    return ev.groupBy("event_type").agg(
        F.max("_us").alias("last_ts_us"),
        F.max_by("value", "_us").alias("last_value"),
        F.max_by("event_id", "_us").alias("last_event_id"),
    )


@_q(
    "ts_histogram",
    """
    SELECT event_type, floor(value / 25.0) AS bin,
           count(*) AS n, floor(value / 25.0) * 25.0 AS bin_lo
    FROM events GROUP BY 1, 2
    """,
)
def ts_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_histogram(): fixed-width (25.0) per-series value histogram
    — the distribution primitive behind latency/size dashboards. One
    hash aggregate; bin = floor(v/width) is a single IEEE divide +
    floor, bit-exact across engines."""
    t = load_tables(spark, sf_dir)
    return ts_ops.value_histogram(
        t["events"], bin_width=25.0, series_cols=("event_type",)
    ).select("event_type", F.col("bin").cast("double").alias("bin"), "n", "bin_lo")


@_q(
    "ts_irate",
    """
    WITH e AS (SELECT event_type, epoch_ns(ts) AS t, value FROM events),
    r AS (SELECT event_type, t, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY t DESC) AS rn
          FROM e),
    g AS (SELECT event_type,
                 max(CASE WHEN rn = 1 THEN t END) AS t1,
                 max(CASE WHEN rn = 1 THEN value END) AS v1,
                 max(CASE WHEN rn = 2 THEN t END) AS t0,
                 max(CASE WHEN rn = 2 THEN value END) AS v0
          FROM r WHERE rn <= 2 GROUP BY event_type)
    SELECT event_type, t1 AS ts_ns,
           (CASE WHEN v1 < v0 THEN v1 ELSE v1 - v0 END) * 1.0
             / ((t1 - t0) / 1000000000.0) AS irate
    FROM g WHERE t0 IS NOT NULL
    """,
)
def ts_irate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """irate(): instantaneous rate from each series' last two samples
    (Prometheus convention incl. counter-reset handling) — the
    spike-sensitive liveness metric. One row_number window shuffle +
    a 2-row pivot aggregate; ts is unique per series in the fixture so
    the top-2 pick is deterministic. ts pre-truncated to µs-grid ns to
    match DuckDB's parquet timestamp precision."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    ev = ev.withColumn("ts", _ts_us(ev) * F.lit(1000))
    return ts_ops.irate(ev, series_cols=("event_type",), counter=True)


@_q(
    "ts_histogram_quantile",
    """
    WITH h AS (
      SELECT event_type, floor(value / 25.0) * 25.0 AS lo, count(*) AS n
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT event_type, lo, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY lo
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS total
      FROM h),
    x AS (
      SELECT event_type, lo, n, cum, total,
             lo + ((0.95 * CAST(total AS DOUBLE)
                    - CAST(cum - n AS DOUBLE)) / CAST(n AS DOUBLE)) * 25.0
               AS est
      FROM c WHERE CAST(cum AS DOUBLE) >= 0.95 * CAST(total AS DOUBLE))
    SELECT event_type, arg_min(est, lo) AS quantile
    FROM x GROUP BY event_type
    """,
)
def ts_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram_quantile(): p95 estimated from fixed-width bucket
    counts with in-bucket linear interpolation (the Prometheus
    histogram_quantile convention), composed directly over
    value_histogram's output — the raw values are never re-scanned.
    Integer rank arithmetic + one fixed interpolation expression, so
    the SQL oracle is bit-exact."""
    t = load_tables(spark, sf_dir)
    h = ts_ops.value_histogram(
        t["events"], bin_width=25.0, series_cols=("event_type",)
    )
    return ts_ops.histogram_quantile(
        h, q=0.95, bin_width=25.0, series_cols=("event_type",)
    )


@_q(
    "ts_time_weighted_avg",
    """
    WITH x AS (
      SELECT event_type, epoch_ns(ts) AS t, value,
             epoch_ns(ts) - epoch_ns(ts) % 21600000000000 AS bucket,
             least(coalesce(lead(epoch_ns(ts)) OVER w,
                            epoch_ns(ts) - epoch_ns(ts) % 21600000000000
                              + 21600000000000),
                   epoch_ns(ts) - epoch_ns(ts) % 21600000000000
                     + 21600000000000)
               - epoch_ns(ts) AS wgt
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_ns(ts)))
    SELECT event_type, bucket,
           list_reduce(list_prepend(0.0,
               list(value * CAST(wgt AS DOUBLE) ORDER BY t)),
               (acc, p) -> acc + p)
             / CAST(sum(wgt) AS DOUBLE) AS twa,
           count(*) AS n
    FROM x GROUP BY event_type, bucket
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_weighted_avg(): 6h time-weighted average per series — the
    irregular-sampling mean where a value holds until the next
    observation (TimescaleDB time_weight analog). Integer-exact ns
    weights; the v*w sum is a ts-ordered left fold, so the double
    hash-matches the oracle bit for bit."""
    t = load_tables(spark, sf_dir)
    return ts_ops.time_weighted_avg(
        _ns_events(t), bucket_seconds=21600, series_cols=("event_type",)
    )


@_q(
    "ts_series_correlation",
    """
    WITH h AS (
      SELECT event_type,
             epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
      FROM events
      WHERE event_type IN ('click', 'error') AND value IS NOT NULL
      GROUP BY 1, 2),
    j AS (
      SELECT a.bucket, a.m AS x, b.m AS y
      FROM h a JOIN h b USING (bucket)
      WHERE a.event_type = 'click' AND b.event_type = 'error'),
    s AS (
      SELECT count(*) AS n,
             list_reduce(list_prepend(0.0, list(x ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sx,
             list_reduce(list_prepend(0.0, list(y ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sy,
             list_reduce(list_prepend(0.0, list(x * y ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sxy,
             list_reduce(list_prepend(0.0, list(x * x ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sxx,
             list_reduce(list_prepend(0.0, list(y * y ORDER BY bucket)),
                         (acc, v) -> acc + v) AS syy
      FROM j)
    SELECT n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
           / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
              * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr
    FROM s
    """,
)
def ts_series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """series_correlation(): Pearson correlation between the hourly
    means of the click and error series — cross-series analytics. Five
    bucket-ordered fold sums + one fixed double formula, bit-identical
    to the oracle (suite fold rules)."""
    t = load_tables(spark, sf_dir)
    return ts_ops.series_correlation(
        _ns_events(t), "click", "error", 3600, series_col="event_type"
    )


@_q(
    "ts_autocorr",
    """
    WITH h AS (
      SELECT event_type,
             epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    j AS (
      SELECT a.event_type, a.bucket, a.m AS x, b.m AS y
      FROM h a JOIN h b
        ON a.event_type = b.event_type
       AND a.bucket = b.bucket + 24 * 3600000000000),
    s AS (
      SELECT event_type, count(*) AS n,
             list_reduce(list_prepend(0.0, list(x ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sx,
             list_reduce(list_prepend(0.0, list(y ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sy,
             list_reduce(list_prepend(0.0, list(x * y ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sxy,
             list_reduce(list_prepend(0.0, list(x * x ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sxx,
             list_reduce(list_prepend(0.0, list(y * y ORDER BY bucket)),
                         (acc, v) -> acc + v) AS syy
      FROM j GROUP BY event_type)
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
           / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
              * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS autocorr
    FROM s
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """autocorrelation(): lag-24h autocorrelation of each series'
    hourly means — the seasonality/persistence diagnostic (a daily
    cycle shows as high autocorr at k=24). Same fold determinism as
    ts_series_correlation; self-equi-join on the shifted bucket."""
    t = load_tables(spark, sf_dir)
    return ts_ops.autocorrelation(
        _ns_events(t), lag_buckets=24, bucket_seconds=3600,
        series_cols=("event_type",),
    )


@_q(
    "ts_linear_trend",
    """
    WITH h AS (
      SELECT event_type,
             epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    h2 AS (
      SELECT event_type, bucket, m,
             (CAST(bucket AS DOUBLE)
              - CAST(min(bucket) OVER (PARTITION BY event_type) AS DOUBLE))
             / 1e9 AS x
      FROM h),
    s AS (
      SELECT event_type, count(*) AS n,
             (CAST(max(bucket) AS DOUBLE) - CAST(min(bucket) AS DOUBLE)) / 1e9
               + 14400.0 AS x_pred,
             list_reduce(list_prepend(0.0, list(x ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sx,
             list_reduce(list_prepend(0.0, list(m ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sy,
             list_reduce(list_prepend(0.0, list(x * m ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sxy,
             list_reduce(list_prepend(0.0, list(x * x ORDER BY bucket)),
                         (acc, v) -> acc + v) AS sxx
      FROM h2 GROUP BY event_type)
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
           (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n AS DOUBLE) AS intercept,
           (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n AS DOUBLE)
           + (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx) * x_pred AS predict
    FROM s
    """,
)
def ts_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linear_trend(): per-series least-squares slope over hourly means
    (Prometheus deriv) plus the 4h-ahead extrapolation (predict_linear)
    — capacity-planning parity for the rich-time-series north star.
    Moment sums are bucket-ordered folds with x = seconds since the
    series' first bucket; slope/intercept/predict are fixed double
    formulas, bit-identical to the oracle."""
    t = load_tables(spark, sf_dir)
    return ts_ops.linear_trend(
        _ns_events(t), bucket_seconds=3600, predict_seconds=14400.0,
        series_cols=("event_type",),
    )


@_q(
    "ts_rollup_cascade",
    """
    WITH l AS (SELECT epoch_ns(ts) AS tn, event_type, value FROM events)
    SELECT 3600 AS level_s, tn - tn % 3600000000000 AS bucket, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           min(value) AS vmin, max(value) AS vmax
    FROM l GROUP BY 2, 3
    UNION ALL
    SELECT 21600, tn - tn % 21600000000000, event_type, count(*),
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE),
           min(value), max(value)
    FROM l GROUP BY 2, 3
    UNION ALL
    SELECT 86400, tn - tn % 86400000000000, event_type, count(*),
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE),
           min(value), max(value)
    FROM l GROUP BY 2, 3
    """,
)
def ts_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup hierarchy (operators/timeseries.py
    rollup_cascade): hourly partials aggregate the raw scan ONCE, then
    the 6h and 1d levels re-aggregate those partials (sum-of-sums /
    min-of-mins), never touching raw rows again — the hypertable
    continuous-aggregate cascade at its 100 TB shape. The oracle
    computes EVERY level directly from the raw table, so the hash gate
    certifies exactly the partial-aggregate composability claim: a
    non-decomposable statistic smuggled into the partials, a
    misaligned coarse bucket, or double-counting at a level boundary
    all flip the hash."""
    t = load_tables(spark, sf_dir)
    out = ts_ops.rollup_cascade(
        _ns_events(t), levels=(3600, 21600, 86400),
        keys=("event_type",), value_col="value",
    )
    return out.withColumn("total", F.col("total").cast("double"))


@_q(
    "ts_quantile_over_time",
    """
    WITH b AS (
      SELECT event_type,
             epoch_ns(ts) - epoch_ns(ts) % 21600000000000 AS bucket,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT bucket, event_type, count(*) AS n, list(v ORDER BY v) AS vs
      FROM b GROUP BY 1, 2)
    SELECT bucket, event_type, n,
           vs[CAST(floor(0.9 * (CAST(n AS DOUBLE) - 1.0)) AS BIGINT) + 1]
           + (0.9 * (CAST(n AS DOUBLE) - 1.0)
              - CAST(CAST(floor(0.9 * (CAST(n AS DOUBLE) - 1.0)) AS BIGINT)
                     AS DOUBLE))
             * (vs[least(CAST(floor(0.9 * (CAST(n AS DOUBLE) - 1.0)) AS BIGINT)
                         + 2, n)]
                - vs[CAST(floor(0.9 * (CAST(n AS DOUBLE) - 1.0)) AS BIGINT) + 1])
             AS quantile
    FROM g
    """,
)
def ts_quantile_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantile_over_time(): exact interpolated p90 of each series per
    6h bucket — the exact companion to the sketch-based
    agg_approx_quantiles. Sorted-array indexing + one fixed
    interpolation expression; per-task memory is one bucket's samples
    (bounded by bucket width, not series length)."""
    t = load_tables(spark, sf_dir)
    return ts_ops.quantile_over_time(
        _ns_events(t), q=0.9, bucket_seconds=21600, series_cols=("event_type",)
    )


@_q(
    "ts_changes_resets",
    """
    WITH x AS (
      SELECT event_type, value,
             lag(value) OVER (PARTITION BY event_type
                              ORDER BY epoch_ns(ts)) AS pv
      FROM events)
    SELECT event_type,
           CAST(sum(CASE WHEN pv IS NOT NULL AND value <> pv
                         THEN 1 ELSE 0 END) AS BIGINT) AS changes,
           CAST(sum(CASE WHEN pv IS NOT NULL AND value < pv
                         THEN 1 ELSE 0 END) AS BIGINT) AS resets
    FROM x GROUP BY event_type
    """,
)
def ts_changes_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """counter_changes(): Prometheus changes() + resets() per series —
    consecutive-sample change and counter-restart counts. One lag
    window (streaming frame) + grouped integer sums; ts is unique per
    series in the fixture so the lag order is deterministic."""
    t = load_tables(spark, sf_dir)
    return ts_ops.counter_changes(_ns_events(t), series_cols=("event_type",))


@_q(
    "ts_holt_winters",
    """
    WITH h AS (
      SELECT event_type,
             epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    g AS (
      SELECT event_type, count(*) AS n,
             list_reduce(
               list_prepend([0.0, 0.0, 0.0],
                            list_transform(list(m ORDER BY bucket), y -> [y])),
               (acc, y) -> CASE WHEN acc[1] = 0.0
                 THEN [1.0, y[1], 0.0]
                 ELSE [acc[1] + 1.0,
                       0.5 * y[1] + 0.5 * (acc[2]
                         + (CASE WHEN acc[1] = 1.0
                                 THEN y[1] - acc[2] ELSE acc[3] END)),
                       0.25 * ((0.5 * y[1] + 0.5 * (acc[2]
                                 + (CASE WHEN acc[1] = 1.0
                                         THEN y[1] - acc[2] ELSE acc[3] END)))
                               - acc[2])
                       + 0.75 * (CASE WHEN acc[1] = 1.0
                                      THEN y[1] - acc[2] ELSE acc[3] END)]
                 END) AS acc
      FROM h GROUP BY event_type)
    SELECT event_type, n, acc[2] AS level, acc[3] AS trend
    FROM g
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """holt_winters(): double exponential smoothing (Holt's linear
    method, a=0.5, B=0.25 — dyadic so the 1-a literals are float-exact
    cross-engine) over hourly means per series. The sequential
    recurrence runs as ONE declarative left fold with an array<double>
    accumulator [i, level, trend] — no UDF, no driver loop; the oracle
    evaluates the identical expression tree."""
    t = load_tables(spark, sf_dir)
    return ts_ops.holt_winters(
        _ns_events(t), alpha=0.5, beta=0.25, bucket_seconds=3600,
        series_cols=("event_type",),
    )


@_q(
    "ts_cusum_changepoint",
    """
    WITH h AS (
      SELECT event_type,
             epoch_ns(ts) - epoch_ns(ts) % 21600000000000 AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    g AS (
      SELECT event_type,
             list(m ORDER BY bucket) AS vs,
             list(bucket ORDER BY bucket) AS bs,
             count(*) AS n
      FROM h GROUP BY event_type),
    cal AS (
      SELECT event_type, vs, bs, n,
             list_reduce(list_prepend(0.0, vs[1:8]),
                         (a, x) -> a + x) / 8.0 AS mu0,
             sqrt(greatest(
               list_reduce(list_prepend(0.0, vs[1:8]),
                           (a, x) -> a + x * x) / 8.0
               - (list_reduce(list_prepend(0.0, vs[1:8]),
                              (a, x) -> a + x) / 8.0)
                 * (list_reduce(list_prepend(0.0, vs[1:8]),
                                (a, x) -> a + x) / 8.0),
               0.0)) AS sd
      FROM g WHERE n > 8),
    prm AS (
      SELECT event_type, vs, bs, 0.5 * sd AS k, 2.0 * sd AS hh, mu0
      FROM cal WHERE sd > 0),
    folded AS (
      SELECT event_type, bs,
             list_reduce(
               list_prepend([0.0, 0.0, 9.0],
                            list_transform(vs[9:len(vs)], y -> [y])),
               (acc, y) -> CASE
                 WHEN greatest(0.0, acc[1] + (y[1] - mu0) - k) > hh
                      AND greatest(0.0, acc[1] + (y[1] - mu0) - k)
                          >= greatest(0.0, acc[2] - (y[1] - mu0) - k)
                 THEN list_concat(
                        list_concat([0.0, 0.0, acc[3] + 1.0],
                                    acc[4:len(acc)]),
                        [acc[3], 1.0,
                         greatest(0.0, acc[1] + (y[1] - mu0) - k)])
                 WHEN greatest(0.0, acc[2] - (y[1] - mu0) - k) > hh
                 THEN list_concat(
                        list_concat([0.0, 0.0, acc[3] + 1.0],
                                    acc[4:len(acc)]),
                        [acc[3], -1.0,
                         greatest(0.0, acc[2] - (y[1] - mu0) - k)])
                 ELSE list_concat(
                        [greatest(0.0, acc[1] + (y[1] - mu0) - k),
                         greatest(0.0, acc[2] - (y[1] - mu0) - k),
                         acc[3] + 1.0],
                        acc[4:len(acc)])
               END) AS acc
      FROM prm),
    cps AS (
      SELECT event_type, bs, acc,
             unnest(range(0, (len(acc) - 3) // 3)) AS c
      FROM folded WHERE len(acc) > 3)
    SELECT event_type,
           bs[CAST(acc[c * 3 + 4] AS INT)] AS bucket,
           CAST(acc[c * 3 + 5] AS INT) AS direction,
           floor(acc[c * 3 + 6] * 1000000.0 + 0.5) / 1000000.0 AS stat
    FROM cps
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint detection (Page 1954 tabular
    two-sided; operators/timeseries.py::cusum_changepoints) over 6h
    means per series: calibrate mu0/sd on the first 8 buckets, slack
    k=0.5sd, decision interval h=2sd, reset-on-fire. The inherently
    sequential recurrence runs as ONE declarative left fold with a
    GROWING array<double> accumulator ([S+, S-, next_i, then one
    (index, direction, stat) triple per changepoint]) — no UDF, no
    driver loop — and the oracle evaluates the identical expression
    tree (indices stand in for ns buckets inside the fold: an ns
    epoch exceeds 2^53 in doubles; they map back through the sorted
    bucket list)."""
    t = load_tables(spark, sf_dir)
    return ts_ops.cusum_changepoints(
        _ns_events(t), bucket_seconds=21600, warmup=8,
        k_mult=0.5, h_mult=2.0, series_cols=("event_type",),
    )


@_q(
    "ts_prom_rate",
    """
    WITH e AS (
      SELECT event_type, epoch_ns(ts) AS t, CAST(value AS DOUBLE) AS v
      FROM events),
    mx AS (SELECT event_type, max(t) AS t_end FROM e GROUP BY event_type),
    w AS (
      SELECT e.event_type, e.t, e.v, mx.t_end
      FROM e JOIN mx USING (event_type)
      WHERE e.t >= mx.t_end - 21600000000000),
    g AS (
      SELECT event_type, count(*) AS n, max(t_end) AS t_end,
             list(v ORDER BY t, v) AS vs, list(t ORDER BY t, v) AS tl
      FROM w GROUP BY event_type),
    f AS (
      SELECT event_type, n, t_end, vs, tl,
             list_reduce(
               list_prepend([vs[1], 0.0],
                            list_transform(vs[2:], x -> [x])),
               (acc, y) -> [y[1], acc[2] + CASE WHEN y[1] < acc[1]
                                                THEN y[1]
                                                ELSE y[1] - acc[1] END]
             )[2] AS inc,
             CAST(tl[1] - (t_end - 21600000000000) AS DOUBLE) / 1e9 AS d_start,
             CAST(t_end - tl[-1] AS DOUBLE) / 1e9 AS d_end,
             CAST(tl[-1] - tl[1] AS DOUBLE) / 1e9 AS si
      FROM g WHERE n >= 2),
    x AS (
      SELECT event_type, n, inc, d_start, d_end, si,
             si / (CAST(n AS DOUBLE) - 1.0) AS avg_gap
      FROM f)
    SELECT event_type, n,
           inc * ((si
                   + CASE WHEN least(d_start,
                                     CASE WHEN inc > 0.0 AND vs_first >= 0.0
                                          THEN si * (vs_first / inc)
                                          ELSE CAST('inf' AS DOUBLE) END)
                               < avg_gap * 1.1
                          THEN least(d_start,
                                     CASE WHEN inc > 0.0 AND vs_first >= 0.0
                                          THEN si * (vs_first / inc)
                                          ELSE CAST('inf' AS DOUBLE) END)
                          ELSE avg_gap / 2.0 END
                   + CASE WHEN d_end < avg_gap * 1.1
                          THEN d_end ELSE avg_gap / 2.0 END)
                  / si) / 21600.0 AS rate
    FROM (SELECT x.*, f2.vs[1] AS vs_first
          FROM x JOIN f f2 USING (event_type))
    """,
)
def ts_prom_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prom_rate(): Prometheus rate(v[6h]) with FULL extrapolatedRate
    semantics — reset-adjusted increase over each series' trailing
    window, boundary extrapolation capped at 1.1x the average sample
    spacing, counter zero-cap on the start side. One ordered fold +
    one fixed double formula tree, bit-identical to the oracle."""
    t = load_tables(spark, sf_dir)
    return ts_ops.prom_rate(
        _ns_events(t), range_seconds=21600, series_cols=("event_type",)
    )


@_q(
    "ts_mad",
    """
    WITH b AS (
      SELECT event_type,
             epoch_ns(ts) - epoch_ns(ts) % 21600000000000 AS bucket,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT bucket, event_type, count(*) AS n, list(v ORDER BY v) AS vs
      FROM b GROUP BY 1, 2),
    m AS (
      SELECT bucket, event_type, n, vs,
             vs[CAST(floor((CAST(n AS DOUBLE) - 1.0) * 0.5) AS BIGINT) + 1]
             + ((CAST(n AS DOUBLE) - 1.0) * 0.5
                - CAST(CAST(floor((CAST(n AS DOUBLE) - 1.0) * 0.5) AS BIGINT)
                       AS DOUBLE))
               * (vs[least(CAST(floor((CAST(n AS DOUBLE) - 1.0) * 0.5)
                                AS BIGINT) + 2, n)]
                  - vs[CAST(floor((CAST(n AS DOUBLE) - 1.0) * 0.5)
                            AS BIGINT) + 1]) AS median
      FROM g),
    d AS (
      SELECT bucket, event_type, n, median,
             list_sort(list_transform(vs, x -> abs(x - median))) AS ds
      FROM m)
    SELECT bucket, event_type, n, median,
           ds[CAST(floor((CAST(n AS DOUBLE) - 1.0) * 0.5) AS BIGINT) + 1]
           + ((CAST(n AS DOUBLE) - 1.0) * 0.5
              - CAST(CAST(floor((CAST(n AS DOUBLE) - 1.0) * 0.5) AS BIGINT)
                     AS DOUBLE))
             * (ds[least(CAST(floor((CAST(n AS DOUBLE) - 1.0) * 0.5)
                              AS BIGINT) + 2, n)]
                - ds[CAST(floor((CAST(n AS DOUBLE) - 1.0) * 0.5)
                          AS BIGINT) + 1]) AS mad
    FROM d
    """,
)
def ts_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mad_over_time(): per-series per-6h-bucket median + median
    absolute deviation — the robust spread statistic for alerting
    thresholds. Both from sorted arrays with the standard interpolated
    median (fixed double expressions); the deviations array derives
    in-expression, no re-scan. One grouped aggregate."""
    t = load_tables(spark, sf_dir)
    return ts_ops.mad_over_time(
        _ns_events(t), bucket_seconds=21600, series_cols=("event_type",)
    )


@_q(
    "agg_hll_merge_cascade",
    """
    WITH e AS (SELECT epoch_ns(ts) AS t, event_type, user_id FROM events)
    SELECT (t - t % 86400000000000) // 1000 AS day_us, event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_nu,
           true AS merged_equals_direct, true AS within_bound
    FROM e GROUP BY 1, 2
    """,
)
def agg_hll_merge_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCH MERGEABILITY under the hash gate — the distinct-count
    cascade. count(DISTINCT) does not decompose (a rollup hierarchy
    cannot sum per-6h distinct users into per-day), which is exactly
    why 100 TB pipelines materialize MERGEABLE sketches instead: HLL
    union is a register-wise max, so union(6h sketches) is the SAME
    sketch as one built over the whole day. This entry builds Apache
    DataSketches HLLs (F.hll_sketch_agg, lgK=14) per (6h, series),
    merges them to per-day (F.hll_union_agg), and certifies two
    booleans per (day, series): the merged estimate EQUALS the
    direct-over-raw day estimate (associativity — bit-exact, not
    approximate), and the estimate sits within 3 standard errors
    (~2.5% at lgK=14) of the in-query exact distinct. The exact count
    hashes alongside. A sketch that lost registers in the merge, a
    mis-bucketed row, or accuracy drift all flip the hash; the
    estimate itself stays out of the hash (engine-specific), the r4
    sketch-certification pattern."""
    t = load_tables(spark, sf_dir)
    ev = _ns_events(t)
    day = F.expr(f"(ts - ts % {86400 * 10**9}) div 1000").alias("day_us")
    h6 = F.expr(f"ts - ts % {21600 * 10**9}").alias("h6")
    base = ev.select(day, h6, "event_type", "user_id")
    fine = base.groupBy("day_us", "h6", "event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    merged = fine.groupBy("day_us", "event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_m")
    )
    direct = base.groupBy("day_us", "event_type").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(14))
        ).alias("est_d"),
        F.countDistinct("user_id").alias("exact_nu"),
    )
    j = merged.join(direct, ["day_us", "event_type"])
    err = F.abs(F.col("est_m") - F.col("exact_nu")) / F.col("exact_nu")
    return j.select(
        "day_us", "event_type", "exact_nu",
        (F.col("est_m") == F.col("est_d")).alias("merged_equals_direct"),
        (err <= F.lit(0.025)).alias("within_bound"),
    )


@_q(
    "agg_approx_count_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS hll_within_bound
    FROM events GROUP BY event_type
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB-scale default
    for distinct-user counts — no expand, no distinct shuffle, constant
    memory per group. The sketch value itself is engine-specific, so
    the DRIVER-certifiable form emits (exact count, |approx - exact| /
    exact <= 5*rsd) computed in ONE query: a sketch drifting past the
    bound flips the boolean and fails the hash. The sketch is
    deterministic (fixed hash) and HLL merge is order-independent, so
    the row is stable across partitionings."""
    t = load_tables(spark, sf_dir)
    agg = t["events"].groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        F.countDistinct("user_id").alias("n_users_exact"),
    )
    err = F.abs(F.col("_approx") - F.col("n_users_exact")) / F.col(
        "n_users_exact"
    ).cast("double")
    return agg.select(
        "event_type",
        "n_users_exact",
        (err <= F.lit(0.10)).alias("hll_within_bound"),
    )


@_q(
    "agg_approx_quantiles",
    """
    SELECT event_type, count(*) AS n,
           TRUE AS p50_rank_ok, TRUE AS p99_rank_ok
    FROM events GROUP BY event_type
    """,
)
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx: the sketch-based quantile path for 100 TB
    (bounded memory, mergeable partials; exact interpolated percentiles
    are agg_percentiles). Driver-certifiable form: percentile_approx
    returns a REAL element whose normalized rank must sit within the
    sketch's rank-error bound of the target, so the query re-joins the
    approx values against the events and emits booleans
    ``rank(approx_pXX) in [XX - delta, XX + delta]`` (delta = 0.02 >>
    1/accuracy + discreteness at every tested SF). The booleans absorb
    the sketch's partitioning-dependent tie-breaks; a sketch whose
    rank error exceeds the bound fails the hash."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_type", "value")
    ap = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("_p50a"),
        F.percentile_approx("value", 0.99, 10000).alias("_p99a"),
    )
    j = ev.join(F.broadcast(ap), "event_type")
    ranked = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg((F.col("value") <= F.col("_p50a")).cast("double")).alias("_r50"),
        F.avg((F.col("value") <= F.col("_p99a")).cast("double")).alias("_r99"),
    )
    d = F.lit(0.02)
    return ranked.select(
        "event_type",
        "n",
        F.col("_r50").between(F.lit(0.5) - d, F.lit(0.5) + d).alias(
            "p50_rank_ok"
        ),
        F.col("_r99").between(F.lit(0.99) - d, F.lit(1.0)).alias(
            "p99_rank_ok"
        ),
    )


@_q(
    "dialect_groupby_agg",
    """
    SELECT user_id, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           max(value) AS peak
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def dialect_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY with explicit aggregate calls THROUGH the dialect front
    (parse -> sugar resolution -> grouped plan): the full declared-stub
    aggregation surface (query/base/expression.go:16-28) driven from
    the reference's own SQL shape."""
    load_tables(spark, sf_dir)
    df = sugar.query(
        spark,
        "SELECT purchase.user_id, count(*) AS n, sum(purchase) AS total, "
        "max(purchase) AS peak FROM boost.events GROUP BY purchase.user_id",
        EVENTS_BINDING,
    )
    # decimal accumulation for cross-engine order-independence (suite
    # determinism rules), cast back to DOUBLE for the output hash
    return df.withColumn(
        "total", F.col("total").cast("decimal(18,6)").cast("double")
    )


@_q(
    "join_range",
    """
    SELECT l.event_id AS purchase_id, r.event_id AS error_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    JOIN (SELECT * FROM events WHERE event_type = 'error') r
      ON l.user_id = r.user_id
     AND epoch_us(r.ts) >= epoch_us(l.ts)
     AND epoch_us(r.ts) < epoch_us(l.ts) + 3600000000
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: every error within 1h after a purchase by
    the same user — equi-key + time-band condition. Executes as a
    sort-merge join on user_id with the band as a post-join predicate;
    the equi-key keeps it off the nested-loop path. (theta/range joins
    ABSENT in the reference, SURVEY.md 2.3.) Band compared at µs
    precision on both sides — DuckDB truncates the ns parquet ts."""
    t = load_tables(spark, sf_dir)
    e = t["events"]
    e = e.withColumn("ts_us", _ts_us(e))
    l = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts_us").alias("p_us")
    )
    r = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts_us").alias("e_us"),
    )
    hour_us = 3600 * 10**6
    return (
        l.join(
            r,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("e_us") >= F.col("p_us"))
            & (F.col("e_us") < F.col("p_us") + hour_us),
        )
        .select("purchase_id", "error_id")
    )


@_q(
    "window_moving_avg",
    """
    SELECT event_id,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS mv_sum,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / count(*) OVER w AS mv_avg
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-row moving sum/avg per series (moving_agg operator):
    bounded rowsBetween frame — O(window) state, one shuffle on the
    series key. Decimal sum + explicit divide so both engines are exact
    regardless of frame-accumulation strategy."""
    t = load_tables(spark, sf_dir)
    e = t["events"].withColumn("_vd", F.col("value").cast("decimal(18,6)"))
    out = ts_ops.moving_agg(
        e, 5, value_col="_vd", series_cols=("event_type",), ts_col="ts",
        how="sum", out_col="mv_sum", order_extra=("event_id",),
    )
    out = ts_ops.moving_agg(
        out, 5, value_col="_vd", series_cols=("event_type",), ts_col="ts",
        how="count", out_col="_mv_n", order_extra=("event_id",),
    )
    return out.select(
        "event_id",
        F.col("mv_sum").cast("double").alias("mv_sum"),
        (F.col("mv_sum").cast("double") / F.col("_mv_n")).alias("mv_avg"),
    )


# ===========================================================================
# 2.5 — scalar function surface (string/date/math/json: ABSENT in the
# reference — its WHERE grammar accepts only literals and column refs,
# query/parser/whereparser.go:136-287) and the UDF surface
# ===========================================================================


@_q(
    "scalar_functions",
    """
    SELECT event_id,
           upper(event_type) AS type_u,
           length(event_type) AS type_len,
           substr(event_type, 1, 3) AS type_pfx,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           abs(value - 100.0) AS dist100,
           CAST(ceil(value) AS BIGINT) AS value_up,
           CAST(floor(value / 10) AS BIGINT) AS decile,
           year(ts) AS y, month(ts) AS m, dayofmonth(ts) AS d, hour(ts) AS h
    FROM events
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math/json/date scalar functions in one projection — all
    JVM built-ins inside whole-stage codegen. json access via
    functions.json_prop (the per-datapoint attribute map analog,
    core/seriesfamily.go:19-26)."""
    from boostdb_spark.functions import json_prop
    from boostdb_spark.operators.common import spread as _spread

    t = load_tables(spark, sf_dir)
    e = _spread(t["events"])  # 1-file scan would pin the JSON parse to 1 core
    ts_t = _ts_t(e)
    return e.select(
        "event_id",
        F.upper("event_type").alias("type_u"),
        F.length("event_type").alias("type_len"),
        F.substring("event_type", 1, 3).alias("type_pfx"),
        json_prop("props", "k").cast("long").alias("prop_k"),
        F.abs(F.col("value") - 100.0).alias("dist100"),
        F.ceil("value").alias("value_up"),
        F.floor(F.col("value") / 10).alias("decile"),
        F.year(ts_t).alias("y"),
        F.month(ts_t).alias("m"),
        F.dayofmonth(ts_t).alias("d"),
        F.hour(ts_t).alias("h"),
    )


@_q(
    "agg_cube",
    """
    SELECT event_type, CAST(year(ts) AS INT) AS y, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY CUBE (event_type, CAST(year(ts) AS INT))
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, year): all 4 grouping-set combinations in
    one pass — completes the reference's declared-but-stub GROUP BY
    surface (query/base/expression.go:22-25) the way rollup does."""
    t = load_tables(spark, sf_dir)
    e = t["events"]
    e = e.withColumn("y", F.year(_ts_t(e)).cast("int"))
    return e.cube("event_type", "y").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


@_q(
    "agg_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           min(value) AS vmin, max(value) AS vmax
    FROM events GROUP BY event_type
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles per series (Spark `percentile` ==
    DuckDB `quantile_cont`; both sort-and-interpolate, rounded at 6dp to
    absorb the one-ulp interpolation difference). The approx path
    (percentile_approx / t-digest) is the 100 TB default; the exact form
    is the oracle-checkable contract."""
    t = load_tables(spark, sf_dir)
    return t["events"].groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


@_q(
    "agg_weighted_median",
    """
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS v, l_quantity AS wt,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice, l_orderkey,
                                            l_linenumber) AS cumw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
      FROM lineitem)
    SELECT l_returnflag, min(v) AS wmedian,
           CAST(min(totw) AS DOUBLE) AS total_weight
    FROM w WHERE cumw * 2 >= totw GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median per group (lower weighted median: the smallest
    value whose cumulative weight reaches half the total) — the
    quantity-weighted price statistic plain percentile() cannot
    express. Exact DECIMAL cumulative weights over a fully
    deterministic ordering (value, then the unique line key), compared
    as ``2*cumw >= totw`` in decimal — no float threshold, so the
    boundary row is engine-exact. One shuffle for the window, one
    partial-agg min; with equal values straddling the threshold, the
    minimal qualifying VALUE is order-invariant by construction."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    wo = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wp = Window.partitionBy("l_returnflag")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum(F.col("l_quantity")).over(wo).alias("cumw"),
        F.sum(F.col("l_quantity")).over(wp).alias("totw"),
    )
    return (
        w.filter(F.col("cumw") * 2 >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("v").alias("wmedian"),
            F.min("totw").cast("double").alias("total_weight"),
        )
    )


@_q(
    "udf_vectorized",
    """
    SELECT event_id,
           greatest(least(value, 100.0), 0.0) / 100.0 AS value_unit
    FROM events
    """,
)
def udf_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python-UDF surface (SURVEY.md section 2.5, ABSENT in the
    reference), done the only acceptable way at scale: an Arrow-batched
    pandas_udf (vectorized, ~10-100x over row-at-a-time). The kernel is
    deliberately arithmetic-only so the SQL oracle is bit-identical —
    demonstrating the contract, not moving work to Python."""
    from boostdb_spark.functions import pandas_scale_clip

    t = load_tables(spark, sf_dir)
    return t["events"].select(
        "event_id", pandas_scale_clip(F.col("value")).alias("value_unit")
    )


@_q(
    "ts_ewma",
    """
    WITH s AS (SELECT event_type,
                      list(value ORDER BY ts, event_id) AS vals
               FROM events GROUP BY event_type)
    SELECT event_type,
           list_reduce(vals, (acc, v) -> 0.25 * v + 0.75 * acc) AS ewma
    FROM s
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA per series (alpha=0.25 — chosen binary-exact so
    1-alpha is bit-identical in both engines): the inherently
    sequential recursion done as a deterministic left fold over the
    per-series ordered array. ewma_final operator; one shuffle."""
    t = load_tables(spark, sf_dir)
    return ts_ops.ewma_final(
        t["events"],
        alpha=0.25,
        value_col="value",
        series_cols=("event_type",),
        ts_col="ts",
        order_extra=("event_id",),
    )


@_q(
    "ts_ewma_rows",
    """
    WITH o AS (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) - 1 AS rn
      FROM events),
    b AS (SELECT *, rn // 512 AS bk, rn % 512 AS j FROM o),
    s AS (
      SELECT event_type, bk,
             CASE WHEN bk = 0
               THEN list_reduce(list(value ORDER BY rn),
                                (acc, v) -> 0.25 * v + 0.75 * acc)
               ELSE list_reduce(list_prepend(0.0, list(value ORDER BY rn)),
                                (acc, v) -> 0.25 * v + 0.75 * acc) END AS p,
             CASE WHEN bk = 0 THEN 0.0
               ELSE list_reduce(list_prepend(1.0, list(value ORDER BY rn)),
                                (acc, v) -> acc * 0.75) END AS d
      FROM b GROUP BY event_type, bk),
    sl AS (SELECT event_type,
                  list(struct_pack(d := d, p := p) ORDER BY bk) AS ss
           FROM s GROUP BY event_type),
    inc AS (
      SELECT s.event_type, s.bk,
             (list_reduce(
                list_prepend(struct_pack(d := 1.0, p := 0.0),
                             list_slice(sl.ss, 1, s.bk)),
                (acc, x) -> struct_pack(d := 1.0,
                                        p := x.d * acc.p + x.p))).p AS sin
      FROM s JOIN sl USING (event_type)),
    bl AS (SELECT event_type, bk, list(value ORDER BY rn) AS vals
           FROM b GROUP BY event_type, bk)
    SELECT b.event_type, b.event_id,
           CASE WHEN b.bk = 0
             THEN list_reduce(list_slice(bl.vals, 1, b.j + 1),
                              (acc, v) -> 0.25 * v + 0.75 * acc)
             ELSE list_reduce(
                    list_prepend(i.sin, list_slice(bl.vals, 1, b.j + 1)),
                    (acc, v) -> 0.25 * v + 0.75 * acc) END AS ewma
    FROM b
    JOIN bl ON b.event_type = bl.event_type AND b.bk = bl.bk
    JOIN inc i ON b.event_type = i.event_type AND b.bk = i.bk
    """,
)
def ts_ewma_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row EWMA through the BOUNDED-MEMORY parallel-scan path
    (bucket_rows=512): rows bucket per series in time order, per-bucket
    affine summaries (d, p) compose into each bucket's incoming state,
    and the Arrow fold loop runs per (series, bucket) — O(bucket_rows)
    peak group memory, all buckets parallel, the plan that survives a
    100x single-series scale-up. 512 balances the memory bound against
    per-group Arrow overhead (64 cost 5x the wall time at sf0.1).
    The oracle performs the IDENTICAL
    two-level fold (same bucket boundaries, same affine composition
    d*s + p, same seeding), so the comparison stays bit-exact with no
    rounding tolerance. The flat bit-exact-vs-naive-fold variant stays
    as ts_ewma's default path."""
    t = load_tables(spark, sf_dir)
    return ts_ops.ewma_rows(
        t["events"],
        alpha=0.25,
        value_col="value",
        series_cols=("event_type",),
        ts_col="ts",
        order_extra=("event_id",),
        keep_cols=["event_type", "event_id"],
        bucket_rows=512,
    )


@_q(
    "ts_ewma_bucketed",
    """
    WITH o AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) - 1 AS rn
      FROM events),
    b AS (SELECT *, rn // 64 AS bk FROM o),
    s AS (
      SELECT event_type, bk,
             CASE WHEN bk = 0
               THEN list_reduce(list(value ORDER BY rn),
                                (acc, v) -> 0.25 * v + 0.75 * acc)
               ELSE list_reduce(list_prepend(0.0, list(value ORDER BY rn)),
                                (acc, v) -> 0.25 * v + 0.75 * acc) END AS p,
             CASE WHEN bk = 0 THEN 0.0
               ELSE list_reduce(list_prepend(1.0, list(value ORDER BY rn)),
                                (acc, v) -> acc * 0.75) END AS d
      FROM b GROUP BY event_type, bk)
    SELECT event_type,
           (list_reduce(list(struct_pack(d := d, p := p) ORDER BY bk),
                        (acc, x) -> struct_pack(d := x.d,
                                                p := x.d * acc.p + x.p))).p
             AS ewma
    FROM s GROUP BY event_type
    """,
)
def ts_ewma_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-series EWMA via the bounded-memory parallel-scan
    composition (Blelloch treatment of the linear recurrence
    s_i = a*v_i + (1-a)*s_{i-1}): per-bucket sequential folds to
    affine summaries (d, p), then an ordered fold d*s + p over the
    ~n/64 summaries. Peak per-group state O(max(64, n/64)) vs O(n)
    for ts_ewma's flat fold. Oracle mirrors the exact same two-level
    fold — bit-exact, no rounding."""
    t = load_tables(spark, sf_dir)
    return ts_ops.ewma_final(
        t["events"],
        alpha=0.25,
        value_col="value",
        series_cols=("event_type",),
        ts_col="ts",
        order_extra=("event_id",),
        bucket_rows=64,
    )


@_q(
    "agg_count_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase hash agg — a
    distinct physical shape vs plain agg). The approx path at 100 TB is
    approx_count_distinct (HLL); the exact form is the oracle
    contract."""
    t = load_tables(spark, sf_dir)
    return t["events"].groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@_q(
    "agg_pivot",
    """
    SELECT user_id,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): per-user event-type counts. Explicit value
    list keeps the schema static (a dynamic pivot needs a driver-side
    distinct pass — an anti-pattern at scale); the oracle is the
    equivalent conditional aggregation."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@_q(
    "subquery_scalar",
    """
    SELECT event_id, value FROM events
    WHERE event_type = 'click'
      AND value > (SELECT max(value) - 50.0 FROM events WHERE event_type = 'error')
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate — the reference's declared
    'Aggregate' expression kind ("subquery that returns a single value",
    query/base/expression.go:16-18) that never got parser/executor
    support. Catalyst plans the subquery once and broadcasts the
    scalar. (max-based threshold: exact in both engines, no FP-noise
    boundary.)"""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_id, value FROM events
        WHERE event_type = 'click'
          AND value > (SELECT max(value) - 50.0 FROM events
                       WHERE event_type = 'error')
        """
    )


@_q(
    "subquery_in",
    """
    SELECT event_id, user_id FROM events e
    WHERE event_type = 'purchase'
      AND user_id IN (SELECT user_id FROM events WHERE event_type = 'error'
                      AND value > 150.0)
    """,
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (decorrelated to a left-semi join by Catalyst) — the
    SQL form of the semi-join surface; purchases by users who ever had
    a high-value error."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_id, user_id FROM events e
        WHERE event_type = 'purchase'
          AND user_id IN (SELECT user_id FROM events
                          WHERE event_type = 'error' AND value > 150.0)
        """
    )


@_q(
    "window_rank_ntile",
    """
    SELECT event_id,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value)
    """,
)
def window_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/analytic window functions (rank, dense_rank, ntile) per
    series ordered by value — the ranking row of SURVEY.md section 2.5.
    ntile gets a unique (value, event_id) order so tile assignment is
    deterministic; rank/dense_rank handle ties identically in both
    engines by definition."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value")
    wu = Window.partitionBy("event_type").orderBy("value", "event_id")
    return t["events"].select(
        "event_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(wu).alias("quartile"),
    )


@_q(
    "window_navigation",
    """
    SELECT event_id,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(value) OVER (PARTITION BY event_type
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_v,
           round(percent_rank() OVER (PARTITION BY event_type
               ORDER BY value, event_id), 9) AS pct_rnk,
           round(cume_dist() OVER (PARTITION BY event_type
               ORDER BY value, event_id), 9) AS cum_d
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    """,
)
def window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation / distribution window functions (lag, lead,
    first_value, percent_rank, cume_dist) — completes the analytic
    window surface next to window_rank_ntile. All orderings carry the
    event_id tiebreak so offsets are deterministic; the rational
    distribution functions are rounded at 9dp (the (rank-1)/(n-1)
    divide can differ in the last ulp between engines)."""
    t = load_tables(spark, sf_dir)
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wf = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wv = Window.partitionBy("event_type").orderBy("value", "event_id")
    return t["events"].select(
        "event_id",
        F.lag("value").over(wt).alias("prev_value"),
        F.lead("value").over(wt).alias("next_value"),
        F.first("value").over(wf).alias("first_v"),
        F.round(F.percent_rank().over(wv), 9).alias("pct_rnk"),
        F.round(F.cume_dist().over(wv), 9).alias("cum_d"),
    )


@_q(
    "udaf_grouped_range",
    """
    SELECT event_type, max(value) - min(value) AS vrange
    FROM events GROUP BY event_type
    """,
)
def udaf_grouped_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF (grouped-agg pandas_udf, Series -> scalar): per-group
    range. The UDAF contract of SURVEY.md section 2.5 — the kernel is
    order-independent (max-min), the property any Python aggregate
    needs under Spark's arbitrary partition ordering."""
    from boostdb_spark.functions import pandas_udaf_range

    t = load_tables(spark, sf_dir)
    return t["events"].groupBy("event_type").agg(
        pandas_udaf_range(F.col("value")).alias("vrange")
    )


@_q(
    "agg_grouping_sets",
    """
    SELECT event_type, user_id, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the third grouping-analytics form next
    to agg_rollup/agg_cube, SURVEY.md section 2.4): three independent
    aggregations in ONE pass over the scan — Spark expands the sets
    map-side, so the input is read once instead of unioning three
    groupBys. Decimal-cast sum for cross-engine order-independence."""
    t = load_tables(spark, sf_dir)
    t["events"].createOrReplaceTempView("_ev_gs")
    return spark.sql(
        """
        SELECT event_type, user_id, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM _ev_gs
        GROUP BY GROUPING SETS ((event_type), (user_id), ())
        """
    )


@_q(
    "dialect_having",
    """
    SELECT user_id, count(*) AS n
    FROM events WHERE event_type = 'click'
    GROUP BY user_id
    HAVING count(*) > 1 AND max(value) < 99.5
    """,
)
def dialect_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING through the dialect front with a select-alias ref AND a
    hidden aggregate (max not in the select list — registered before
    .agg, dropped after the filter). Completes the declared-stub Having
    surface (query/base/expression.go:26-28) end-to-end. Thresholds use
    count/max only — order-independent, so the oracle hash is exact."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.user_id, count(*) AS n FROM boost.events "
        "GROUP BY click.user_id HAVING n > 1 AND max(click) < 99.5",
        EVENTS_BINDING,
    )


@_q(
    "agg_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long melt, the inverse of agg_pivot): four
    measure columns become (measure, val) rows via the native unpivot
    operator — a zero-shuffle Expand node, one scan (the UNION-ALL
    oracle scans four times; Spark's Expand emits 4 rows per input row
    in one pass)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            variableColumnName="measure",
            valueColumnName="val",
        )
    )


@_q(
    "dialect_join",
    """
    SELECT l.event_id AS pid, r.event_id AS eid, r.value AS err_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    JOIN (SELECT * FROM events WHERE event_type = 'error') r
      ON l.user_id = r.user_id
    """,
)
def dialect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN through the dialect front itself: the reference PARSES this
    grammar (joinparser.go:84-201, parser_test.go:51-59) but drops the
    join on the floor (AddJoinOp empty body, queryops.go:60-66) — here
    the parsed JoinClause plans to a real equi-join with per-source
    series filters pushed into each scan."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT a.purchase.event_id AS pid, b.error.event_id AS eid, "
        "b.error AS err_value "
        "FROM boost.events a JOIN boost.events b ON a.user_id = b.user_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_join_multi",
    """
    SELECT l.event_id AS eid, r.o_totalprice AS open_price,
           r.o_orderkey AS okey
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    JOIN (SELECT * FROM orders WHERE o_orderstatus = 'O') r
      ON l.user_id = r.o_custkey
    """,
)
def dialect_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN across two DIFFERENT series families through the dialect
    front, each with its own binding (the reference's JoinInfo carries
    distinct left/right sources, joinparser.go:84-201, but AddJoinOp
    drops them, queryops.go:60-66). Per-source series filters
    (event_type='click', o_orderstatus='O') push into each scan; the
    per-family canonical column names (value/o_totalprice, ts/
    o_orderdate) resolve independently per binding."""
    load_tables(spark, sf_dir)
    bindings = {
        "boost.events": EVENTS_BINDING,
        "boost.orders": sugar.SeriesFamilyBinding(
            view="orders",
            series_col="o_orderstatus",
            value_col="o_totalprice",
            ts_col="o_orderdate",
        ),
    }
    return sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.O AS open_price, "
        "b.O.o_orderkey AS okey "
        "FROM boost.events a JOIN boost.orders b ON a.user_id = b.o_custkey",
        bindings,
    )


@_q(
    "dialect_join_left",
    """
    SELECT l.event_id AS eid, r.o_orderkey AS okey
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'O') r
      ON l.user_id = r.o_custkey
    """,
)
def dialect_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT [OUTER] JOIN through the dialect front — the outer
    completion of the reference's declared join grammar (joinparser.go
    parses inner/cross only; AddJoinOp drops even those,
    queryops.go:60-66). Per-source series filters still apply at SCAN
    level (the dialect's series selection is a source property, so
    filter-before-join is the defined semantic); unmatched left rows
    survive with NULL right columns."""
    load_tables(spark, sf_dir)
    bindings = {
        "boost.events": EVENTS_BINDING,
        "boost.orders": sugar.SeriesFamilyBinding(
            view="orders",
            series_col="o_orderstatus",
            value_col="o_totalprice",
            ts_col="o_orderdate",
        ),
    }
    return sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.O.o_orderkey AS okey "
        "FROM boost.events a LEFT JOIN boost.orders b "
        "ON a.user_id = b.o_custkey",
        bindings,
    )


@_q(
    "dialect_join_right",
    """
    SELECT l.event_id AS eid, r.o_orderkey AS okey
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    RIGHT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'O') r
      ON l.user_id = r.o_custkey
    """,
)
def dialect_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT [OUTER] JOIN through the dialect front — symmetric
    completion of the outer-join grammar (the certified LEFT path
    mirrored; the reference parses inner/cross only, joinparser.go:
    84-201). Unmatched right rows survive with NULL left columns;
    per-source series filters still push into each scan."""
    load_tables(spark, sf_dir)
    bindings = {
        "boost.events": EVENTS_BINDING,
        "boost.orders": sugar.SeriesFamilyBinding(
            view="orders",
            series_col="o_orderstatus",
            value_col="o_totalprice",
            ts_col="o_orderdate",
        ),
    }
    return sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.O.o_orderkey AS okey "
        "FROM boost.events a RIGHT JOIN boost.orders b "
        "ON a.user_id = b.o_custkey",
        bindings,
    )


@_q(
    "dialect_join_full",
    """
    SELECT l.event_id AS eid, r.o_orderkey AS okey
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') r
      ON l.user_id = r.o_custkey
    """,
)
def dialect_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN through the dialect front, closing the outer
    grammar (DataFrame-path join_full_outer is certified r1/r6; this
    puts the same NULL-propagation semantics behind the parsed
    grammar). Unmatched rows from BOTH sides survive with NULLs on the
    other side — the 'F' status filter guarantees both unmatched
    populations exist in the fixture."""
    load_tables(spark, sf_dir)
    bindings = {
        "boost.events": EVENTS_BINDING,
        "boost.orders": sugar.SeriesFamilyBinding(
            view="orders",
            series_col="o_orderstatus",
            value_col="o_totalprice",
            ts_col="o_orderdate",
        ),
    }
    return sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.F.o_orderkey AS okey "
        "FROM boost.events a FULL OUTER JOIN boost.orders b "
        "ON a.user_id = b.o_custkey",
        bindings,
    )


@_q(
    "dialect_cte",
    """
    WITH u AS (
      SELECT user_id AS uid, count(*) AS n
      FROM events WHERE event_type = 'click' GROUP BY user_id
    )
    SELECT e.user_id AS user_id, e.value AS amount, u.n AS clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') e
    JOIN u ON e.user_id = u.uid
    """,
)
def dialect_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH-clause (CTE) through the dialect front: a named aggregate
    subquery joined back to the family — the multi-step query shape
    the reference's TiDB parser accepts before dropping the statement
    (query/parser/parser.go:25-45) and the one place a SQL user
    previously hit a wall in this front. The CTE body is its own
    declarative plan (series filter + grouping pushed into ITS scan);
    the outer JOIN treats it as a plain-column source, so Catalyst
    sees one tree: two pushed scans -> partial-agg -> join (broadcast
    at this cardinality — per-user counts are tiny relative to the
    fact side)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "WITH u AS (SELECT click.user_id AS uid, count(*) AS n "
        "FROM boost.events GROUP BY click.user_id) "
        "SELECT e.purchase.user_id AS user_id, e.purchase AS amount, "
        "u.n AS clicks "
        "FROM boost.events e JOIN u ON e.user_id = u.uid",
        EVENTS_BINDING,
    )


@_q(
    "dialect_derived_table",
    """
    SELECT uid AS user_id, n AS clicks
    FROM (SELECT user_id AS uid, count(*) AS n
          FROM events WHERE event_type = 'click' GROUP BY user_id) d
    WHERE n > 10
    """,
)
def dialect_derived_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived table in FROM — ``( SELECT ... ) alias`` parses as an
    ANONYMOUS CTE and rides the WITH-clause planning path exactly
    (plain-column source, its own pushed scan + partial agg), so the
    two spellings of a named subquery cannot drift apart. Outer WHERE
    filters the aggregate — the inline HAVING idiom."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT d.uid AS user_id, d.n AS clicks "
        "FROM (SELECT click.user_id AS uid, count(*) AS n "
        "FROM boost.events GROUP BY click.user_id) d WHERE d.n > 10",
        EVENTS_BINDING,
    )


@_q(
    "dialect_recursive_cte",
    """
    WITH RECURSIVE anc AS (
      SELECT DISTINCT user_id AS node, user_id AS a
      FROM events WHERE event_type = 'signup'
      UNION
      SELECT node, CAST(floor(a / 2.0) AS BIGINT) AS a
      FROM anc WHERE a >= 1
    )
    SELECT node, count(*) AS n_anc, CAST(sum(a) AS BIGINT) AS path_sum
    FROM anc GROUP BY node
    """,
)
def dialect_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE through the dialect front (r8-verdict ask #3) —
    the halving-chain ancestor closure per signup user: node -> a/2 ->
    ... -> 0, a UNION-distinct fixpoint whose depth is log2(max id),
    BOUNDED BY THE ID SPACE, not the row count. The planner runs
    semi-naive iteration (the self-reference binds to the previous
    delta, DuckDB/postgres working-table semantics — the oracle IS
    DuckDB's native WITH RECURSIVE, so the two engines' fixpoint
    semantics certify against each other); each step localCheckpoints
    so the plan never grows, and driver traffic is one isEmpty probe
    per step. The reference's TiDB parser accepts WITH RECURSIVE
    before dropping the statement (query/parser/parser.go:25-45).
    The fixpoint column is CAST to BIGINT in the recursive branch (r9
    driver lesson: floor() yields DOUBLE, and the driver hashes
    representations — "3.0" != "3" even though every value matched;
    the cast is safe because floor's output is integral, the one case
    where DuckDB's rounding and Spark's truncating BIGINT casts
    agree)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "WITH RECURSIVE anc AS ("
        "  SELECT DISTINCT signup.user_id AS node, signup.user_id AS a"
        "  FROM boost.events"
        "  UNION"
        "  SELECT r.node AS node, CAST(floor(r.a / 2.0) AS BIGINT) AS a"
        "  FROM anc r WHERE r.a >= 1"
        ") "
        "SELECT node, count(*) AS n_anc, sum(a) AS path_sum "
        "FROM anc GROUP BY node",
        EVENTS_BINDING,
    )


@_q(
    "dialect_recursive_components",
    """
    WITH RECURSIVE u AS (
      SELECT DISTINCT user_id AS uid, CAST(floor(user_id / 2.0) AS BIGINT) AS bkt
      FROM events WHERE event_type = 'signup'
    ), e AS (
      SELECT x.uid AS src, y.uid AS dst FROM u x JOIN u y ON x.bkt = y.bkt
    ), reach AS (
      SELECT DISTINCT src AS node, src AS lab FROM e
      UNION
      SELECT ee.dst AS node, r.lab AS lab
      FROM e ee JOIN reach r ON ee.src = r.node
    )
    SELECT node, min(lab) AS group_id, count(*) AS n_labels
    FROM reach GROUP BY node
    """,
)
def dialect_recursive_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components through the front's WITH RECURSIVE — the
    min-label transitive closure that dedup_groups' own DuckDB oracle
    uses, now expressible in the dialect instead of a hand-written
    DataFrame loop. A mixed WITH RECURSIVE list (u, e plain; reach
    recursive) where the closure joins the edge CTE against the
    recursive working table — the real graph-query shape. Edges pair
    users in the same floor(uid/2) bucket, so components are bounded
    cliques and the closure's row count stays O(nodes x clique) at any
    SF (label-propagation on unbounded components needs the
    dedup_groups operator, which iterates min-labels, not full
    reachability)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "WITH RECURSIVE u AS ("
        "  SELECT DISTINCT signup.user_id AS uid,"
        "    floor(signup.user_id / 2.0) AS bkt FROM boost.events"
        "), e AS ("
        "  SELECT x.uid AS src, y.uid AS dst FROM u x JOIN u y"
        "  ON x.bkt = y.bkt"
        "), reach AS ("
        "  SELECT DISTINCT src AS node, src AS lab FROM e"
        "  UNION"
        "  SELECT ee.dst AS node, r.lab AS lab"
        "  FROM e ee JOIN reach r ON ee.src = r.node"
        ") "
        "SELECT node, min(lab) AS group_id, count(*) AS n_labels "
        "FROM reach GROUP BY node",
        EVENTS_BINDING,
    )


@_q(
    "dialect_join_multikey",
    """
    SELECT l.event_id AS eid, l.value AS v1, r.value AS v2
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id AND l.event_id = r.event_id
    """,
)
def dialect_join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite (multi-column) equi-join keys through the dialect
    front: ``ON a.x = b.y AND a.z = b.w`` AND-chains into one join
    condition — Catalyst plans a single hash/merge join on the
    composite key, not a join + post-filter. The reference's JoinInfo
    carries exactly one column pair (joinparser.go:84-201); real
    multi-tenant keys are composite, so the grammar completes it."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, a.click AS v1, b.click AS v2 "
        "FROM boost.events a JOIN boost.events b "
        "ON a.user_id = b.user_id AND a.event_id = b.event_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_select_scalar_sub",
    """
    SELECT event_id AS eid, value AS v,
           value / (SELECT max(value) FROM events
                    WHERE event_type = 'click') AS frac
    FROM events WHERE event_type = 'click'
    """,
)
def dialect_select_scalar_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subqueries in the SELECT list: each is Spark's native
    scalar subquery (one single-row aggregate, evaluated once — the
    same shape the WHERE-side scalar comparison uses), and the select
    expression divides by it — normalize-by-corpus-max without a
    second query. Identical IEEE division both engines."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, click AS v, "
        "click / (SELECT max(click) FROM boost.events) AS frac "
        "FROM boost.events",
        EVENTS_BINDING,
    )


@_q(
    "dialect_window_nav",
    """
    SELECT event_id AS eid,
           lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_v,
           lead(value) OVER (PARTITION BY user_id ORDER BY event_id) AS next_v
    FROM events WHERE event_type = 'click'
    """,
)
def dialect_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions (lag/lead) through the dialect
    front: value sugar inside OVER — `lag(click)` navigates the click
    series' value column partitioned by the user attribute, ordered by
    the unique event_id so neighbor assignment is deterministic."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "lag(click) OVER (PARTITION BY click.user_id "
        "ORDER BY click.event_id) AS prev_v, "
        "lead(click) OVER (PARTITION BY click.user_id "
        "ORDER BY click.event_id) AS next_v "
        "FROM boost.events",
        EVENTS_BINDING,
    )


@_q(
    "dialect_subquery",
    """
    SELECT user_id, value FROM events
    WHERE event_type = 'purchase'
      AND user_id IN (SELECT user_id FROM events
                      WHERE event_type = 'signup' AND value > 150.0)
      AND value > (SELECT avg(value) FROM events
                   WHERE event_type = 'purchase')
    """,
)
def dialect_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subqueries THROUGH the dialect front — the reference declared
    Aggregate as a subquery-returning expression
    (query/base/expression.go:16-18) but never planned it. ``IN
    (SELECT ...)`` plans as a broadcast left-semi join with both
    sides' filters pushed to the scans; the scalar aggregate
    comparison is Spark's native scalar subquery, run once — the
    shapes the DataFrame-level subquery_in / subquery_scalar entries
    certify, now printed as SQL from parsed dialect text
    (plans/sugar.py parse_operand / parse_predicate / plan)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT purchase.user_id, purchase FROM boost.events "
        "WHERE purchase.user_id IN "
        "(SELECT signup.user_id FROM boost.events WHERE signup > 150.0) "
        "AND purchase > (SELECT avg(purchase) FROM boost.events)",
        EVENTS_BINDING,
    )


@_q(
    "dialect_setops",
    """
    SELECT user_id FROM events WHERE event_type = 'click' AND value > 150.0
    UNION
    SELECT user_id FROM events WHERE event_type = 'error' AND value > 150.0
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'signup' AND value > 180.0
    """,
)
def dialect_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / EXCEPT through the dialect front (plans/sugar.py
    parse_query set-op chain): each core's filters push into its own
    scan, UNION dedups through one distinct exchange, EXCEPT is
    Spark's distinct set difference — left-associative like the
    oracle's default precedence. Set operations complete the declared
    query surface the reference's SQL front never had."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.user_id FROM boost.events WHERE click > 150.0 "
        "UNION SELECT error.user_id FROM boost.events WHERE error > 150.0 "
        "EXCEPT SELECT signup.user_id FROM boost.events WHERE signup > 180.0",
        EVENTS_BINDING,
    )


@_q(
    "dialect_setops_all",
    """
    SELECT user_id FROM events
    WHERE event_type IN ('click', 'view') AND value > 150.0
    INTERSECT ALL
    SELECT user_id FROM events
    WHERE event_type IN ('click', 'error') AND value > 120.0
    EXCEPT ALL
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
)
def dialect_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL through the dialect front — the ANSI
    bag-semantics set operations (multiplicity-preserving: INTERSECT
    ALL keeps min(count_l, count_r) copies, EXCEPT ALL subtracts
    multiplicities), completing the set-op chain next to the distinct
    forms in dialect_setops. Spark plans both as ONE aggregate-style
    exchange on the row value (intersectAll/exceptAll), no join
    explosion; duplicates here are real (users fire many events), so
    the bag result genuinely differs from the distinct one and the
    hash certifies the multiplicity arithmetic. The dialect chain is
    left-associative, which for this INTERSECT-then-EXCEPT shape
    coincides with ANSI precedence (INTERSECT binds tighter), so the
    DuckDB oracle parses to the same tree."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT x.user_id FROM (SELECT * FROM boost.events) x "
        "WHERE x.event_type IN ('click', 'view') AND x.value > 150.0 "
        "INTERSECT ALL "
        "SELECT y.user_id FROM (SELECT * FROM boost.events) y "
        "WHERE y.event_type IN ('click', 'error') AND y.value > 120.0 "
        "EXCEPT ALL "
        "SELECT z.user_id FROM (SELECT * FROM boost.events) z "
        "WHERE z.event_type = 'signup'",
        EVENTS_BINDING,
    )


_STREAM_LANDING: dict = {}


def _write_landing_slices(parts, landing) -> None:
    """Write each time-slice as one file under its own subdir and stamp
    strictly-increasing mtimes (:func:`stamp_replay_order`) so the file
    stream source (which orders files by modification time) replays the
    slices in order. Replaces the former inter-slice ``sleep(1.1)``
    calls — identical replay order, ~2 s cheaper per cold landing build
    (r13-verdict ask #6)."""
    import os

    dirs = [os.path.join(landing, f"f{i}") for i in range(len(parts))]
    for p, d in zip(parts, dirs):
        p.coalesce(1).write.parquet(d)
    stamp_replay_order(
        [[os.path.join(d, fn) for fn in os.listdir(d)] for d in dirs]
    )


def _time_ordered_landing(src: DataFrame, key: tuple) -> str:
    """TIME-ORDERED landing of ``src`` for the watermarked drains,
    written once per ``key``: three contiguous ts ranges split at the
    33rd/66th percentiles, one mtime-ordered slice each
    (:func:`_write_landing_slices`). With zero-delay watermarks an
    out-of-order batch would DROP late rows; ordered batches never
    regress the watermark."""
    if key not in _STREAM_LANDING:
        qs = src.select(F.unix_micros("ts").alias("t")).agg(
            F.expr("percentile(t, array(0.33, 0.66))").alias("q")
        ).collect()[0]["q"]
        lo, hi = int(qs[0]), int(qs[1])
        landing = session_tmpdir(prefix=f"boost_suite_{key[-1]}_")
        us = F.unix_micros(F.col("ts"))
        parts = [
            src.filter(us <= lo),
            src.filter((us > lo) & (us <= hi)),
            src.filter(us > hi),
        ]
        _write_landing_slices(parts, landing)
        _STREAM_LANDING[key] = landing
    return _STREAM_LANDING[key]


def _ckpt() -> str:
    """A fresh checkpoint location: state partitions pin at a query's
    first checkpoint, so every drain starts from its own."""
    import os

    return os.path.join(session_tmpdir(prefix="boost_ckpt_"), "c")


#: side channel for the bench record (r10 verdict ask #4): suite
#: streaming entries stash a per-drain drain.progress_detail here keyed
#: "entry" or "entry/stage" (the rollup parity drains two sink
#: variants); bench.py merges it into the record's stream_detail so a
#: slow wall is attributable to a specific drain's machinery
#: (n_batches x commit cost) vs data from the committed record alone.
#: Keyed per process — no cross-run state.
STREAM_DRAIN_DETAIL: dict[str, dict] = {}


def _events_landing(spark: SparkSession, sf_dir: str) -> str:
    """UNORDERED multi-file landing dir of (event_type, ts, value) —
    one per (application, SF). Fine for unwatermarked / complete-mode /
    never-finalizing pipelines only; watermarked append-mode entries
    build their own TIME-ORDERED landings (zero-delay watermarks drop
    late rows on unordered batches)."""
    t = load_tables(spark, sf_dir)
    ev = _ts_events(t).select("event_type", "ts", "value")
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _STREAM_LANDING:
        landing = session_tmpdir(prefix="boost_suite_stream_")
        ev.repartition(4).write.mode("overwrite").parquet(landing)
        _STREAM_LANDING[key] = landing
    return _STREAM_LANDING[key]


@_q(
    "stream_batch_parity",
    """
    SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start_us,
           event_type, count(*) AS n,
           min(value) AS vmin, max(value) AS vmax
    FROM events GROUP BY 1, 2
    """,
)
def stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE Structured Streaming: the events table
    replayed as a multi-file landing dir through availableNow
    micro-batches, tumbling hourly count/min/max per series in
    COMPLETE output mode to a memory sink — the returned table must
    hash-equal the oracle's plain bucketed aggregate, certifying the
    whole micro-batch pipeline (source listing, multi-batch state
    accumulation, window assignment) with hard signal instead of the
    pytest-only streaming==batch equivalence the other §2.6 rows rest
    on. Landing write is ingest-time (once per session+SF); each call
    drains ~4 micro-batches of state-store work — the honest cost of
    putting streaming under the hash gate."""
    from boostdb_spark.streaming.windows import tumbling_agg

    key = (spark.sparkContext.applicationId, sf_dir)
    landing = _events_landing(spark, sf_dir)
    schema = landing_schema(spark, landing)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    agg = tumbling_agg(
        src, "1 hour", ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        ],
    )
    sink = f"stream_parity_{abs(hash(key)) % 10**9}"
    drain(
        agg, _ckpt(), output_mode="complete", query_name=sink,
        landing=landing,
    )
    out = spark.table(sink)
    return out.select(
        F.unix_micros(F.col("win_start")).alias("win_start_us"),
        "event_type", "n", "vmin", "vmax",
    )


@_q(
    "stream_cascade_parity",
    """
    SELECT 21600 AS level_s,
           epoch_us(time_bucket(INTERVAL 6 HOUR, ts)) AS win_start_us,
           event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 86400, epoch_us(time_bucket(INTERVAL 1 DAY, ts)), event_type,
           CAST(count(*) AS BIGINT),
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
    FROM events GROUP BY 2, 3
    """,
)
def stream_cascade_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED partials as rollup-cascade inputs, hash-certified: the
    6h level is maintained by Structured Streaming (multi-batch
    availableNow drain, complete-mode state accumulation — the
    continuous-aggregate half) and the 1d level is DERIVED from the
    streamed table by partial re-aggregation (sum of counts / sum of
    decimal sums — the hierarchy half, rollup_cascade's rule). The
    oracle computes BOTH levels directly from raw rows, so the hash
    certifies the full composition: a non-cumulative streaming
    emission, a dropped group in the drain, or a coarse bucket
    misalignment in the derivation all flip it. This is the
    TimescaleDB continuous-aggregate-with-hierarchy shape: raw rows
    are touched once by the stream; every coarser resolution costs
    O(fine cardinality)."""
    from boostdb_spark.streaming.windows import tumbling_agg

    key = (spark.sparkContext.applicationId, sf_dir, "cascade")
    landing = _events_landing(spark, sf_dir)
    schema = landing_schema(spark, landing)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(landing)
    )
    agg = tumbling_agg(
        src, "6 hours", ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
        ],
    )
    sink = f"stream_cascade_{abs(hash(key)) % 10**9}"
    drain(
        agg, _ckpt(), output_mode="complete", query_name=sink,
        landing=landing,
    )
    fine = spark.table(sink).select(
        F.unix_micros(F.col("win_start")).alias("win_start_us"),
        "event_type", "n", "total",
    )
    fine = fine.localCheckpoint(eager=False)  # feeds both levels
    day_us = 86400 * 10**6
    coarse = (
        fine.withColumn(
            "win_start_us",
            F.col("win_start_us") - F.col("win_start_us") % F.lit(day_us),
        )
        .groupBy("win_start_us", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
    )
    out = fine.select(
        F.lit(21600).alias("level_s"), "win_start_us", "event_type",
        "n", "total",
    ).unionByName(
        coarse.select(
            F.lit(86400).alias("level_s"), "win_start_us", "event_type",
            "n", "total",
        )
    )
    return out.withColumn("total", F.col("total").cast("double"))


@_q(
    "stream_rollup_parity",
    """
    SELECT epoch_us(time_bucket(INTERVAL 1 DAY, ts)) AS win_start_us,
           event_type, 'partitioned' AS variant, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT epoch_us(time_bucket(INTERVAL 1 DAY, ts)) AS win_start_us,
           event_type, 'merged' AS variant, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
    """,
)
def stream_rollup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED continuous rollup MAINTENANCE (streaming/rollup.py)
    — the live materialized time-bucket table the round-4 verdict
    listed as the last pytest-only §2.6 row beside paging. Both sink
    strategies drain the same multi-batch landing through update-mode
    tumbling aggregation into parquet rollup TABLES (not a memory
    sink): the per-(window,key)-directory dynamic-overwrite variant
    AND the merge-into-touched-windows variant (the replaceWhere-style
    bounds that replaced the per-batch window collect). The certified
    result reads both tables BACK and must hash-equal the plain batch
    bucket aggregate twice over — a stale partition left by the
    overwrite, a key lost in the merge's anti-join, or a non-cumulative
    update emission flips the hash. State never finalizes (10-year
    watermark) so the unordered landing is safe; decimal sums keep
    totals exact across engines. Rollup tables land in fresh temp dirs
    per call — the certified work IS the maintenance loop; each call
    drains 2x ~3 micro-batches of state work (the honest cost, same
    argument as the other stream_* entries). Window width is 1 DAY and
    each trigger takes 2 landing files: every batch of the UNORDERED
    landing touches ~every (window, key) group, so sink work per batch
    is O(touched groups) — hour windows made that 3600 partition-dir
    rewrites x 5 batches (90 s at sf0.1) for zero extra certification
    power; the parity claim is about cumulative update emission and
    sink idempotence, not window width."""
    import os
    import time as _time

    from boostdb_spark.streaming.rollup import (
        continuous_rollup,
        continuous_rollup_merged,
    )

    landing = _events_landing(spark, sf_dir)
    schema = landing_schema(spark, landing)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
    ]
    # The two sink variants are INDEPENDENT streaming queries (own
    # source, checkpoint, and output table) — drain them CONCURRENTLY
    # and await both, so the entry's wall is max(variant walls) instead
    # of their sum. The r10 record ran them back-to-back and this was
    # the #1 driver entry (6.28 s); the per-drain decomposition showed
    # the wall split ~evenly between two drains whose state-commit and
    # sink-FS work never contended (32 cores, 8+8 state partitions).
    # Results are byte-identical: each drain's output is a function of
    # its own landing replay only.
    running = []
    _t0 = _time.perf_counter()
    # no_data_batches=False: the rollup never finalizes (3650-day
    # watermark) and update mode emits only on data — the trailing
    # watermark-only batch writes nothing to either sink table, while
    # paying a full plan + state commit per variant (oracle re-verified
    # at sf0.001/0.01/0.1)
    with drain_conf(spark, landing=landing, no_data_batches=False):
        for variant, runner in (
            ("partitioned", continuous_rollup),
            ("merged", continuous_rollup_merged),
        ):
            src = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(landing)
            )
            rollup = session_tmpdir(prefix=f"boost_rollup_{variant}_")
            q = runner(
                src, os.path.join(rollup, "t"), checkpoint=_ckpt(),
                duration="1 day", keys=["event_type"], aggs=aggs,
                watermark="3650 days",  # never finalize: stays updatable
            )
            running.append((variant, rollup, q))
        for variant, rollup, q in running:
            q.awaitTermination()
    wall = _time.perf_counter() - _t0
    outs = []
    for variant, rollup, q in running:
        # concurrent drains have no wall of their own: progress_detail
        # attributes each its own busy time, the shared wall rides along
        STREAM_DRAIN_DETAIL[f"stream_rollup_parity/{variant}"] = {
            **progress_detail(q),
            "concurrent": True,
            "concurrent_wall_s": round(wall, 3),
        }
        got = spark.read.parquet(os.path.join(rollup, "t"))
        outs.append(
            got.select(
                F.unix_micros(F.col("win_start").cast("timestamp")).alias(
                    "win_start_us"
                ),
                F.col("event_type").cast("string").alias("event_type"),
                F.lit(variant).alias("variant"),
                "n",
                F.col("total").cast("double").alias("total"),
            )
        )
    return outs[0].unionByName(outs[1])


@_q(
    "stream_ingest_parity",
    f"""
    SELECT event_type AS series, epoch_us(ts) AS ts_us, value, user_id
    FROM events
    WHERE event_type IN ('click', 'error')
      AND epoch_ns(ts) >= {S_NS} AND epoch_ns(ts) < {E_NS}
    """,
)
def stream_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE async ingest: the events table STREAMED into
    a series family through the checkpointed writeStream pipeline
    (streaming/ingest.py::stream_write — the reference's async
    write-goroutine + Wait-barrier analog, boostsession.go:149-184 /
    m3dbseriesfamily.go:106-123), then FETCHED back with the standard
    series + time-range predicate. A duplicated, dropped or
    mis-partitioned row anywhere in the micro-batch write path flips
    the hash against the same oracle the batch round trip uses. The
    whole streamed write is ingest-time, once per session+SF."""
    import os
    from urllib.parse import urlparse

    from boostdb_spark.sources.seriesfamily import SeriesFamily
    from boostdb_spark.streaming.ingest import stream_write

    t = load_tables(spark, sf_dir)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app_id = spark.sparkContext.applicationId
    fam = SeriesFamily(
        spark, "suite", f"events_sin_{tag}_{app_id}", f"{wh}/suite_families"
    )
    key = (app_id, sf_dir, "stream_ingest")
    if not layout_ready(_STREAM_LANDING, key, fam.path):
        # SeriesFamily lays out root/domain/family, so the per-app dirs
        # live under .../suite_families/suite/ — GC must glob THERE
        gc_stale_layouts(f"{wh}/suite_families/suite", "events_sin_")
        src = t["events"].select(
            F.col("event_type").alias("series"), "ts", "value", "user_id"
        )
        landing = session_tmpdir(prefix="boost_suite_singest_")
        src.repartition(4).write.mode("overwrite").parquet(landing)
        sdf = (
            spark.readStream.schema(landing_schema(spark, landing))
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        stream_write(fam, sdf, checkpoint=_ckpt()).awaitTermination()
        _STREAM_LANDING[key] = landing
    touch_layout(fam.path)
    out = fam.fetch(series=["click", "error"], start=S_NS, end=E_NS)
    return out.select(
        "series", _ts_us(out).alias("ts_us"), "value", "user_id"
    )


@_q(
    "stream_session_parity",
    """
    WITH e AS (SELECT event_type, epoch_us(ts) AS t, value FROM events),
    m AS (
      SELECT event_type, t, value,
             CASE WHEN lag(t) OVER w IS NULL
                       OR t - lag(t) OVER w > 1800000000
                  THEN t END AS st
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY t)),
    s AS (
      SELECT event_type, t, value,
             max(st) OVER (PARTITION BY event_type ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM m),
    g AS (
      SELECT event_type, sid, count(*) AS n, min(value) AS vmin,
             min(t) AS t0, max(t) AS t1
      FROM s GROUP BY event_type, sid),
    mx AS (SELECT max(t) AS mt FROM e)
    SELECT t0 AS s_us, t1 + 1800000000 AS e_us, event_type, n, vmin
    FROM g, mx WHERE t1 + 1800000000 <= mt
    """,
)
def stream_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE streaming SESSION windows: 30-minute-gap
    sessions aggregated across time-ordered availableNow micro-batches
    (same mtime-split landing technique as the EWMA parity — sessions
    spanning a batch boundary stay in state and merge) in append mode
    with a zero-delay watermark. The drain emits exactly the sessions
    whose end has passed the final watermark (= global max event
    time), so the oracle is the gap-based session assignment (the
    ts_sessionize pattern) aggregated per session and filtered by the
    same cutoff — bit-deterministic, and a session split or merge
    error anywhere in the cross-batch state machinery flips the
    hash."""
    t = load_tables(spark, sf_dir)
    src = _ts_events(t).select("event_type", "ts", "value")
    key = (spark.sparkContext.applicationId, sf_dir, "session")
    landing = _time_ordered_landing(src, key)
    sdf = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    agg = (
        sdf.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.min("value").alias("vmin"))
    )
    sink = f"stream_session_{abs(hash(key)) % 10**9}"
    drain(agg, _ckpt(), query_name=sink, landing=landing)
    return spark.table(sink).select(
        F.unix_micros(F.col("session_window.start")).alias("s_us"),
        F.unix_micros(F.col("session_window.end")).alias("e_us"),
        "event_type", "n", "vmin",
    )


@_q(
    "stream_sliding_parity",
    """
    WITH e AS (SELECT event_type, epoch_us(ts) AS t, value FROM events),
    w AS (
      SELECT event_type, value,
             (t // 3600000000) * 3600000000 - k.k * 3600000000 AS ws
      FROM e, unnest(range(0, 4)) AS k(k)),
    g AS (SELECT event_type, ws, count(*) AS n, min(value) AS vmin
          FROM w GROUP BY 1, 2),
    mx AS (SELECT max(t) AS mt FROM e)
    SELECT ws AS s_us, ws + 14400000000 AS e_us, event_type, n, vmin
    FROM g, mx WHERE ws + 14400000000 <= mt
    """,
)
def stream_sliding_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE streaming SLIDING windows (4h size / 1h
    slide) across time-ordered availableNow micro-batches, append mode
    with a zero-delay watermark: the drain emits exactly the
    hour-aligned windows whose end passed the final watermark, and the
    oracle expands each event into its four overlapping windows and
    applies the same cutoff. Completes the window-type set under the
    hard gate (tumbling, sliding, session)."""
    t = load_tables(spark, sf_dir)
    src = _ts_events(t).select("event_type", "ts", "value")
    key = (spark.sparkContext.applicationId, sf_dir, "sliding")
    landing = _time_ordered_landing(src, key)
    sdf = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    agg = (
        sdf.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "4 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.min("value").alias("vmin"))
    )
    sink = f"stream_sliding_{abs(hash(key)) % 10**9}"
    drain(agg, _ckpt(), query_name=sink, landing=landing)
    return spark.table(sink).select(
        F.unix_micros(F.col("window.start")).alias("s_us"),
        F.unix_micros(F.col("window.end")).alias("e_us"),
        "event_type", "n", "vmin",
    )


def _stream_join(
    spark: SparkSession, sf_dir: str, name: str, how: str,
    no_data_batches: bool,
) -> DataFrame:
    """Purchases joined to the errors within 1h after them, both
    replayed as streams over one TIME-ORDERED landing (with zero-delay
    watermarks an out-of-order batch would DROP late rows before they
    join; buffered state evicts only rows no future batch can match,
    p_ts + 1h < watermark) and drained to a memory sink. Shared by the
    inner and left-outer join parities, which differ only in ``how``
    and in whether the trailing no-data batch runs. The drain's
    decomposition goes to the bench record under ``name`` (r13-verdict
    ask #2: it splits a slow wall into commit IO vs compute
    in-record)."""
    import os

    t = load_tables(spark, sf_dir)
    src0 = _ts_events(t).select("event_type", "ts", "user_id", "value")
    key = (spark.sparkContext.applicationId, sf_dir, "ssjoin")
    landing = _time_ordered_landing(src0, key)
    schema = landing_schema(spark, os.path.join(landing, "f0"))

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(landing)
        )

    purchases = stream().filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    errors = stream().filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    cond = (
        (F.col("user_id") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    joined = purchases.withWatermark("p_ts", "0 seconds").join(
        errors.withWatermark("e_ts", "0 seconds"), cond, how
    )
    sink = f"{name}_{abs(hash(key)) % 10**9}"
    STREAM_DRAIN_DETAIL[name] = drain(
        joined, _ckpt(), query_name=sink, landing=landing,
        no_data_batches=no_data_batches,
    )
    return spark.table(sink).select(
        "user_id",
        F.unix_micros(F.col("p_ts")).alias("p_ts_us"),
        "p_value",
        F.unix_micros(F.col("e_ts")).alias("e_ts_us"),
    )


@_q(
    "stream_join_parity",
    """
    SELECT p.user_id, epoch_us(p.ts) AS p_ts_us, p.value AS p_value,
           epoch_us(e.ts) AS e_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND e.ts >= p.ts
     AND e.ts <= p.ts + INTERVAL 1 HOUR
    """,
)
def stream_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE stream-stream join: purchases and errors
    replayed as two multi-batch streams over the same landing dir,
    watermarked interval inner join (errors within 1h after the
    purchase). Inner join rows emit as soon as both sides match —
    no tail cutoff — so the appended memory-sink rows must hash-equal
    the batch interval join exactly, certifying the cross-stream state
    store (row buffering, watermark-bounded eviction, interval
    condition) with hard signal."""
    # no_data_batches=False: an INNER stream-stream join emits only on
    # match, during data batches — the trailing watermark-only batch
    # evicts state but cannot add or remove output rows, and it costs a
    # full per-batch plan + state commit (oracle re-verified at
    # sf0.001/0.01/0.1; the outer-join sibling KEEPS the trailing
    # batch, its NULL extension emits there)
    return _stream_join(
        spark, sf_dir, "stream_join_parity", "inner", no_data_batches=False
    )


@_q(
    "stream_outer_join_parity",
    """
    WITH p AS (SELECT user_id, ts AS p_ts, value AS p_value
               FROM events WHERE event_type = 'purchase'),
    e AS (SELECT user_id AS e_user, ts AS e_ts
          FROM events WHERE event_type = 'error'),
    wm AS (SELECT least((SELECT max(p_ts) FROM p),
                        (SELECT max(e_ts) FROM e)) AS w)
    SELECT p.user_id, epoch_us(p.p_ts) AS p_ts_us, p.p_value AS p_value,
           epoch_us(e.e_ts) AS e_ts_us
    FROM p JOIN e ON p.user_id = e.e_user
     AND e.e_ts >= p.p_ts AND e.e_ts <= p.p_ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT p.user_id, epoch_us(p.p_ts), p.p_value, CAST(NULL AS BIGINT)
    FROM p, wm
    WHERE p.p_ts + INTERVAL 1 HOUR < wm.w
      AND NOT EXISTS (SELECT 1 FROM e WHERE e.e_user = p.user_id
                      AND e.e_ts >= p.p_ts
                      AND e.e_ts <= p.p_ts + INTERVAL 1 HOUR)
    """,
)
def stream_outer_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE stream-stream LEFT OUTER join — the NULL-side
    semantics the inner parity entry cannot see: a buffered purchase
    with no matching error emits NULL-extended exactly when the final
    watermark proves no future batch can match it, i.e. strictly
    ``p_ts + 1h < min(max p_ts, max e_ts)`` (pinned empirically: an
    exact-tie expiry does NOT emit — state eviction is strict-less).
    The oracle replicates inner matches + that precise cutoff over the
    batch table, so the appended sink hashes certify watermark-bounded
    outer-row eviction, not just row buffering. Reuses the inner
    entry's time-ordered landing (zero-delay watermarks tolerate no
    out-of-order batch)."""
    return _stream_join(
        spark, sf_dir, "stream_outer_join_parity", "leftOuter",
        no_data_batches=True,
    )


@_q(
    "stream_upsert_parity",
    """
    SELECT user_id, epoch_us(ts) AS ts_us, value, event_id
    FROM (
      SELECT user_id, ts, value, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def stream_upsert_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE streaming UPSERT materialized view
    (streaming/stateful.py::upsert_view — the MERGE-INTO/CDC-apply
    pattern on plain parquet): the events table replayed as ~4
    unordered micro-batches, each batch MERGING into a persisted
    keyed-latest state table (union state + batch, one row per user_id
    by ts DESC with event_id tie-break, atomic replace). The final
    state must hash-equal a batch latest-per-key over the whole table
    — certifying that cross-batch merge maintenance converges to the
    batch answer regardless of how rows split across batches. No
    watermark involved, so the landing needs no time ordering."""
    import os

    t = load_tables(spark, sf_dir)
    src0 = _ts_events(t).select("user_id", "ts", "value", "event_id")
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, "upsert")
    if key not in _STREAM_LANDING:
        landing = session_tmpdir(prefix="boost_suite_supsert_")
        src0.repartition(4).write.mode("overwrite").parquet(landing)
        _STREAM_LANDING[key] = landing
    landing = _STREAM_LANDING[key]
    schema = landing_schema(spark, landing)
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    from boostdb_spark.streaming.stateful import upsert_view

    work = session_tmpdir(prefix="boost_upsert_state_")
    state = os.path.join(work, f"state_{abs(hash(key)) % 10**9}")
    with drain_conf(spark, landing=landing):
        q = upsert_view(
            sdf, ["user_id"], "ts", state,
            checkpoint=os.path.join(work, "ckpt"),
            order_extra=("event_id",),
            # ~600 users/bucket at sf0.1 — several buckets per batch while
            # keeping dynamic-overwrite commit overhead off the bench floor;
            # at production scale size so one bucket ~ a few hundred MB
            n_buckets=8,
        )
        q.awaitTermination()
    out = spark.read.parquet(state)
    return out.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
        "event_id",
    )


@_q(
    "stream_retention_parity",
    """
    WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
    f AS (SELECT user_id, min(t - t % 604800000000000) AS cohort FROM e
          WHERE event_type = 'signup' GROUP BY 1),
    a AS (SELECT DISTINCT user_id, t - t % 604800000000000 AS period
          FROM e WHERE event_type = 'click')
    SELECT cohort,
           CAST((period - cohort) // 604800000000000 AS BIGINT) AS offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM a JOIN f USING (user_id)
    WHERE period >= cohort GROUP BY 1, 2
    """,
)
def stream_retention_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE streaming PRODUCT-ANALYTICS state: the
    retention triangle maintained incrementally behind a live event
    stream. Each micro-batch MERGES two persisted HASH-BUCKETED state
    tables — first-touch (min signup week per user; merge = grouped
    min over state ∪ batch) and activity (distinct (user, click-week);
    merge = union-distinct) — reading and dynamically overwriting ONLY
    the bucket partitions the batch's users hash into (O(touched
    buckets + batch) I/O per trigger, never O(|state|); same contract
    as streaming/stateful.py::merge_upsert_bucket, I/O-shape pinned in
    test_streaming.py). Both merges are order-independent semilattice
    folds, so the final states are split-invariant, and the retention
    (cohort, offset, n_users) computed FROM the streamed states must
    hash-equal the batch agg_retention_cohort over the whole table.
    State size is O(users) + O(users x active weeks) — the bounded
    production shape, not a replay buffer."""
    import os

    t = load_tables(spark, sf_dir)
    ev = _ns_events(t).select("user_id", "event_type", "ts")
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, "retention")
    if key not in _STREAM_LANDING:
        landing = session_tmpdir(prefix="boost_suite_sret_")
        ev.filter(F.col("event_type").isin("signup", "click")).repartition(
            4
        ).write.mode("overwrite").parquet(landing)
        _STREAM_LANDING[key] = landing
    landing = _STREAM_LANDING[key]
    schema = landing_schema(spark, landing)
    work = session_tmpdir(prefix="boost_sret_state_")
    f_state = os.path.join(work, "first_touch")
    a_state = os.path.join(work, "activity")
    wk = F.lit(604_800_000_000_000)
    # Hash-bucketed state (the r8-verdict fix, same contract as
    # streaming/stateful.py::merge_upsert_bucket): each micro-batch
    # reads and dynamically overwrites ONLY the bucket partitions its
    # users hash into — I/O per batch is O(touched buckets + batch),
    # never O(|state|). At 100 TB size n_buckets so one bucket holds a
    # few hundred MB; here 16 keeps several buckets per 4-batch drain.
    n_b = 8
    bcol = F.pmod(F.hash(F.col("user_id")), F.lit(n_b)).cast("int")

    from boostdb_spark.streaming.stateful import BUCKET_COL, touched_buckets

    def _bucketed_merge(state_path, new_rows, merge_fn):
        new_rows = new_rows.withColumn(BUCKET_COL, bcol)
        touched = touched_buckets(new_rows, n_b)
        if not touched:
            return
        if os.path.exists(state_path):
            cur = spark.read.parquet(state_path).filter(
                F.col(BUCKET_COL).isin(touched)
            )
            new_rows = merge_fn(cur.unionByName(new_rows))
        # cluster by bucket pre-write: ~1 file per touched bucket per
        # batch instead of tasks x buckets (see merge_upsert_bucket)
        new_rows = new_rows.repartition(F.col(BUCKET_COL))
        new_rows = new_rows.localCheckpoint()  # break lineage off old dir
        (
            new_rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(state_path)
        )

    def _merge(bdf, _bid):
        if bdf.isEmpty():
            return
        week = (F.col("ts") - (F.col("ts") % wk)).alias("wk")
        _bucketed_merge(
            f_state,
            bdf.filter(F.col("event_type") == "signup")
            .select("user_id", week)
            .groupBy("user_id")
            .agg(F.min("wk").alias("cohort")),
            # semilattice merge: grouped min over state ∪ batch
            lambda u: u.groupBy("user_id", BUCKET_COL).agg(
                F.min("cohort").alias("cohort")
            ),
        )
        _bucketed_merge(
            a_state,
            bdf.filter(F.col("event_type") == "click")
            .select("user_id", week.alias("period"))
            .distinct(),
            # semilattice merge: union-distinct
            lambda u: u.distinct(),
        )

    with drain_conf(spark, landing=landing):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(landing)
            .writeStream.foreachBatch(_merge)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    first = spark.read.parquet(f_state).drop(BUCKET_COL)
    act = spark.read.parquet(a_state).drop(BUCKET_COL)
    return (
        act.join(first, "user_id")
        .filter(F.col("period") >= F.col("cohort"))
        .groupBy(
            "cohort",
            # exact integer division (`div`): the `/`-then-cast route is
            # double division whose truncating cast disagrees with
            # DuckDB's rounding CAST once spans eat the 2^53 mantissa
            # (mirrors operators/timeseries.py::retention_cohorts).
            F.expr("(period - cohort) div 604800000000000").alias("offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@_q(
    "stream_dedup_parity",
    """
    SELECT DISTINCT event_id, event_type, value FROM events
    """,
)
def stream_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE streaming deduplication: the events table
    DOUBLED (every row twice) lands as a multi-file dir, streams
    through ``dropDuplicates`` on event_id across ~4 availableNow
    micro-batches — duplicates deliberately spread across batches so
    the cross-batch state store does real work — and the appended
    memory-sink rows must hash-equal a plain DISTINCT over the
    original table. Hard signal for the streaming-dedup §2.6 row."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_id", "event_type", "value")
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, "dedup")
    if key not in _STREAM_LANDING:
        landing = session_tmpdir(prefix="boost_suite_sdedup_")
        ev.union(ev).repartition(4).write.mode("overwrite").parquet(landing)
        _STREAM_LANDING[key] = landing
    landing = _STREAM_LANDING[key]
    schema = landing_schema(spark, landing)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    sink = f"stream_dedup_{abs(hash(key)) % 10**9}"
    drain(
        src.dropDuplicates(["event_id"]), _ckpt(), query_name=sink,
        landing=landing,
    )
    return spark.table(sink)


@_q(
    "stream_ewma_parity",
    """
    WITH s AS (SELECT event_type,
                      list(value ORDER BY ts, event_id) AS vals,
                      count(*) AS n
               FROM events GROUP BY event_type)
    SELECT event_type,
           list_reduce(vals, (acc, v) -> 0.25 * v + 0.75 * acc) AS ewma,
           n
    FROM s
    """,
)
def stream_ewma_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE stateful streaming: per-key EWMA carried
    across TIME-ORDERED micro-batches in the applyInPandasWithState
    store (streaming/stateful.py) — the landing dir is written as
    three contiguous time ranges with distinct mtimes (the file source
    orders by modification time), so the cross-batch recursion folds
    rows in exactly the batch order and the FINAL state per key
    (max-n update row) must bit-match the sequential batch fold the
    oracle evaluates. The arbitrary-stateful §2.6 row under the hard
    gate; landing write (utime-stamped slice order) is ingest-time,
    once per session+SF."""
    from boostdb_spark.streaming.stateful import streaming_ewma

    t = load_tables(spark, sf_dir)
    src = _ts_events(t).select("event_type", "ts", "event_id", "value")
    key = (spark.sparkContext.applicationId, sf_dir, "ewma")
    landing = _time_ordered_landing(src, key)
    sdf = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    out = streaming_ewma(
        sdf, alpha=0.25, key_cols=["event_type"], value_col="value",
        ts_col="ts", order_extra=["event_id"],
    )
    sink = f"stream_ewma_{abs(hash(key)) % 10**9}"
    drain(
        out, _ckpt(), output_mode="update", query_name=sink,
        landing=landing,
    )
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(F.max_by("ewma", "n").alias("ewma"), F.max("n").alias("n"))
    )


@_q(
    "stream_locf_parity",
    """
    SELECT event_type, event_id,
           last_value(CASE WHEN value < 2.0 THEN NULL ELSE value END
                      IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY ts, event_id)
             AS filled
    FROM events
    """,
)
def stream_locf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-CERTIFIABLE streaming gap-fill: per-key LOCF carried
    across time-ordered micro-batches in the applyInPandasWithState
    store (streaming/stateful.py::streaming_locf) — a per-ROW stateful
    TRANSFORM (output cardinality == input cardinality, each row
    emitted exactly once with its filled value), the stateful shape
    the aggregate parities (ewma/retention/rollup) do not cover. NULL
    readings are injected deterministically (value < 2.0), and the
    drained union of emitted rows must bit-match the batch
    last_value(... IGNORE NULLS) window the oracle runs — the same
    idiom dialect_ignore_nulls certifies in SQL, now certified across
    the state store. Reuses the ewma entry's time-ordered landing
    (same columns, same mtime-ordered three-range layout)."""
    from boostdb_spark.streaming.stateful import streaming_locf

    t = load_tables(spark, sf_dir)
    src = _ts_events(t).select("event_type", "ts", "event_id", "value")
    key = (spark.sparkContext.applicationId, sf_dir, "ewma")  # shared
    landing = _time_ordered_landing(src, key)
    sdf = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    sdf = sdf.withColumn(
        "value", F.when(F.col("value") < 2.0, None).otherwise(F.col("value"))
    )
    out = streaming_locf(
        sdf, key_cols=["event_type"], value_col="value", ts_col="ts",
        id_col="event_id",
    )
    sink = f"stream_locf_{abs(hash(key)) % 10**9}"
    drain(
        out, _ckpt(), output_mode="update", query_name=sink,
        landing=landing,
    )
    return spark.table(sink).withColumn(
        "event_id", F.col("event_id").cast("long")
    )


@_q(
    "ts_sma_crossover",
    """
    WITH x AS (
      SELECT event_type, epoch_ns(ts) AS ts_ns,
             CAST(sum(CAST(floor(value * 1e6 + 0.5) AS HUGEINT))
                  OVER w5 AS DOUBLE)
               / (count(*) OVER w5 * 1e6) AS f,
             CAST(sum(CAST(floor(value * 1e6 + 0.5) AS HUGEINT))
                  OVER w20 AS DOUBLE)
               / (count(*) OVER w20 * 1e6) AS s
      FROM events
      WINDOW w5 AS (PARTITION BY event_type
                    ORDER BY epoch_ns(ts), value
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w20 AS (PARTITION BY event_type
                     ORDER BY epoch_ns(ts), value
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    y AS (SELECT event_type, ts_ns, f, s,
                 lag(f) OVER wl AS pf, lag(s) OVER wl AS ps
          FROM x
          WINDOW wl AS (PARTITION BY event_type ORDER BY ts_ns, f))
    SELECT event_type, ts_ns,
           CASE WHEN f > s THEN 'golden' ELSE 'death' END AS cross_dir
    FROM y WHERE pf IS NOT NULL AND ((f > s) <> (pf > ps))
    """,
)
def ts_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sma_crossover(): fast(5)/slow(20) moving-average crossover
    events per series — 'golden' when the fast SMA crosses above the
    slow, 'death' below (the canonical trend-change alarm). Decimal
    grid sums make both means exact; a cross is a strict comparison
    flip between consecutive rows, so the emitted event set is
    hash-stable. Bounded ROWS frames keep Spark's O(rows x frame)
    sliding evaluation cheap by construction."""
    t = load_tables(spark, sf_dir)
    return ts_ops.sma_crossover(
        _ns_events(t), fast_rows=5, slow_rows=20,
        series_cols=("event_type",),
    )


@_q(
    "dialect_rollup",
    """
    SELECT user_id, count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))
                AS DOUBLE) AS total
    FROM events WHERE event_type = 'purchase'
    GROUP BY ROLLUP (user_id)
    """,
)
def dialect_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP through the dialect front (CUBE parses the same
    way): hierarchical subtotals + the grand-total row planned as
    Spark's native Expand-based rollup — the declared-stub GroupBy
    surface (query/base/expression.go:22-25) completed in the SQL
    front itself. Decimal 6dp quantization absorbs group-sum ordering
    (suite determinism rules)."""
    load_tables(spark, sf_dir)
    df = sugar.query(
        spark,
        "SELECT purchase.user_id, count(*) AS n, sum(purchase) AS total "
        "FROM boost.events GROUP BY ROLLUP (purchase.user_id)",
        EVENTS_BINDING,
    )
    return df.withColumn(
        "total", F.col("total").cast("decimal(18,6)").cast("double")
    )


@_q(
    "dialect_grouping_sets",
    """
    SELECT user_id AS uid, CAST(floor(value / 50.0) AS BIGINT) AS bin,
           count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))
                AS DOUBLE) AS total
    FROM events WHERE event_type = 'purchase'
    GROUP BY GROUPING SETS ((uid), (bin), ())
    """,
)
def dialect_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUP BY GROUPING SETS ((a),(b),()) through the dialect
    front (r8-verdict ask #4; the DataFrame path is certified as
    agg_grouping_sets, ROLLUP/CUBE as dialect_rollup): three
    independent aggregations — per-user, per-value-bin (a COMPUTED
    group key, spelled as its expression in the set), grand total —
    in ONE native Expand pass over the scan. The sets carry the raw
    key expressions and the select list aliases them (Spark matches
    the two by canonicalized expression, so no key reads NULL).
    Decimal 6dp quantization absorbs group-sum ordering."""
    load_tables(spark, sf_dir)
    df = sugar.query(
        spark,
        "SELECT purchase.user_id AS uid, floor(purchase / 50.0) AS bin, "
        "count(*) AS n, sum(purchase) AS total "
        "FROM boost.events "
        "GROUP BY GROUPING SETS ((purchase.user_id), (bin), ())",
        EVENTS_BINDING,
    )
    return df.withColumn(
        "total", F.col("total").cast("decimal(18,6)").cast("double")
    )


@_q(
    "dialect_computed",
    """
    SELECT event_id, value * 2 + 1 AS v2, (value - 1.0) / 4 AS q
    FROM events WHERE event_type = 'click' AND value < 150.0
    """,
)
def dialect_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed projections THROUGH the dialect front — arithmetic
    select items over sugared refs with required AS naming (the
    reference's field list accepts only column refs,
    selectfieldparser.go:90-99; projection_compute certifies the
    DataFrame-level form). Pure codegen expressions in the scan
    pipeline."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id, click * 2 + 1 AS v2, "
        "(click - 1.0) / 4 AS q FROM boost.events WHERE click < 150.0",
        EVENTS_BINDING,
    )


@_q(
    "dialect_arith",
    """
    SELECT event_id, value FROM events
    WHERE event_type = 'purchase'
      AND (value + 1.0) * 2 > 150.0 AND value / 2 < 90.0
      AND 1 + 2 * user_id < 250
    """,
)
def dialect_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic expressions in dialect WHERE (precedence-correct
    + - * /, parenthesized grouping on either comparison side,
    composing with placeholders) — the computed-expression surface the
    reference's parser rejects outright (selectfieldparser.go:90-99
    accepts only column refs). All Catalyst-side: the arithmetic folds
    into the scan's filter pipeline."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT purchase.event_id, purchase FROM boost.events "
        "WHERE (purchase + 1.0) * 2 > 150.0 AND purchase / 2 < 90.0 "
        "AND 1 + 2 * purchase.user_id < 250",
        EVENTS_BINDING,
    )


@_q(
    "dialect_distinct",
    """
    SELECT DISTINCT user_id,
           (SELECT count(DISTINCT user_id) FROM events
            WHERE event_type = 'click') AS nu
    FROM events WHERE event_type = 'click'
    """,
)
def dialect_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT + count(DISTINCT ...) through the dialect front:
    the distinct-projection dedup (one distinct exchange over the
    visible columns) alongside the distinct aggregate (Spark expands
    countDistinct to the standard two-level plan). Both certify in one
    statement via a scalar-subquery-style composition: the distinct
    user list cross-joined with the corpus-wide distinct count."""
    load_tables(spark, sf_dir)
    users = sugar.query(
        spark, "SELECT DISTINCT click.user_id FROM boost.events",
        EVENTS_BINDING,
    )
    nu = sugar.query(
        spark,
        "SELECT count(DISTINCT click.user_id) AS nu FROM boost.events",
        EVENTS_BINDING,
    )
    return users.crossJoin(F.broadcast(nu))


@_q(
    "dialect_distinct_agg",
    """
    SELECT user_id AS uid,
           sum(DISTINCT floor(value * 1000000.0 + 0.5)) AS sum_dv,
           min(value) AS min_v, max(value) AS max_v,
           avg(DISTINCT event_id) AS avg_eid,
           count(DISTINCT event_id) AS n_e
    FROM events WHERE event_type = 'click' GROUP BY user_id
    """,
)
def dialect_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/avg/min/max(DISTINCT ...) through the dialect front (r9
    verdict ask #5) — the reference's TiDB parser accepts all of these
    before dropping the statement (query/parser/parser.go:25-45);
    SUM(DISTINCT) is the common dedup-ish reporting idiom. Compilation:
    sum(DISTINCT expr) -> F.sum_distinct on the exact-integer grid
    (floor(x*1e6+0.5) — integral doubles < 2^53, so the distinct-set
    sum is order-independent on BOTH engines); avg(DISTINCT bigint)
    compiles via a whitelisted F.expr (no Column API) and stays exact
    because integer sums below 2^53 accumulate exactly in either
    engine's double; min/max(DISTINCT) compile to plain extrema (dedup
    is a no-op). Plan: Spark's standard Expand -> two-level partial+
    final hash aggregate for multi-distinct — one shuffle on the group
    key, scale-safe."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.user_id AS uid, "
        "sum(DISTINCT floor(click * 1000000.0 + 0.5)) AS sum_dv, "
        "min(DISTINCT click) AS min_v, max(DISTINCT click) AS max_v, "
        "avg(DISTINCT click.event_id) AS avg_eid, "
        "count(DISTINCT click.event_id) AS n_e "
        "FROM boost.events GROUP BY click.user_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_pivot",
    """
    SELECT user_id AS uid,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
)
def dialect_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT through the dialect front (r9 verdict ask #6), mapping to
    the already-certified DataFrame path (agg_pivot): an explicit value
    list keeps the schema static and the plan ONE
    groupBy().pivot().count() — a single partial+final hash aggregate
    with per-value pivot expressions, no per-value scans, no
    driver-side distinct pass (the 100-TB contract). The anchor is a
    derived table projecting exactly (user_id, event_type) via
    SELECT * EXCLUDE, so the ANSI implicit group key is user_id. The
    reference's TiDB parser accepts PIVOT before dropping the
    statement (query/parser/parser.go:25-45)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT t.user_id AS uid, t.click AS click, t.error AS error, "
        "t.purchase AS purchase, t.signup AS signup, t.view AS view "
        "FROM (SELECT * EXCLUDE (event_id, ts, value, props) "
        "FROM boost.events) t "
        "PIVOT (count(*) FOR event_type "
        "IN ('click', 'error', 'purchase', 'signup', 'view'))",
        EVENTS_BINDING,
    )


@_q(
    "dialect_unpivot",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    t(metric) AS (VALUES ('click'), ('error'), ('purchase'),
                         ('signup'), ('view')),
    c AS (SELECT user_id, event_type, count(*) AS n
          FROM events GROUP BY 1, 2)
    SELECT u.user_id AS uid, t.metric AS metric,
           coalesce(c.n, 0) AS n
    FROM u CROSS JOIN t
    LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.metric
    """,
)
def dialect_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT through the dialect front (r9 verdict ask #6) — a
    PIVOT -> UNPIVOT round trip: the wide per-user count matrix from a
    CTE melts back to (uid, metric, n) long form via Spark's native
    unpivot (ONE Expand, rows = users x 5, no shuffle beyond the
    pivot's own aggregate). count-pivot cells fill 0 (never NULL), so
    the EXCLUDE-NULLS melt drops nothing and the oracle is the dense
    users x metrics grid with zero-coalesced counts. Exercises both
    reshape directions and their composition through WITH."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "WITH w AS ("
        "  SELECT t.user_id AS user_id, t.click AS click, "
        "  t.error AS error, t.purchase AS purchase, "
        "  t.signup AS signup, t.view AS view "
        "  FROM (SELECT * EXCLUDE (event_id, ts, value, props) "
        "  FROM boost.events) t "
        "  PIVOT (count(*) FOR event_type "
        "  IN ('click', 'error', 'purchase', 'signup', 'view'))"
        ") "
        "SELECT m.user_id AS uid, m.metric AS metric, m.n AS n "
        "FROM w UNPIVOT (n FOR metric "
        "IN (click, error, purchase, signup, view)) m",
        EVENTS_BINDING,
    )


@_q(
    "dialect_sample",
    """
    SELECT event_id AS eid, user_id AS uid, value AS v
    FROM events
    WHERE event_type = 'click'
      AND ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
          % 10000 < 1000
    """,
)
def dialect_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE through the dialect front (r9 verdict ask #7),
    riding operators/sampling.py's hash-bucket filter: a DETERMINISTIC
    ~10% sample keyed on event_id's md5-derived bucket — reproducible
    on any partitioning/cluster/retry and monotone (the 20% sample
    contains this one), which is why it hash-certifies where Spark's
    row-level Bernoulli TABLESAMPLE cannot (per-partition RNG). One
    codegen filter conjoined into the scan pipeline alongside the
    series filter — zero shuffle, zero driver work. The reference's
    TiDB parser accepts TABLESAMPLE before dropping the statement
    (query/parser/parser.go:25-45)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, click.user_id AS uid, "
        "click AS v "
        "FROM boost.events TABLESAMPLE (10 PERCENT ON event_id)",
        EVENTS_BINDING,
    )


@_q(
    "dialect_pivot_sum",
    """
    SELECT user_id AS uid,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                FILTER (event_type = 'purchase') AS BIGINT) AS purchase
    FROM events GROUP BY user_id
    """,
)
def dialect_pivot_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-aggregate PIVOT through the dialect front (the sum path
    next to dialect_pivot's count path): a CTE quantizes value to the
    exact-integer grid, the PIVOT sums it per (user, type) — still ONE
    groupBy().pivot() aggregate. Groups with no qualifying rows stay
    NULL (sum semantics, unlike count's 0-fill) on both engines; the
    oracle casts its filtered sums to BIGINT to match Spark's
    sum(long). Window slot in round 11 (below the fold this round)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "WITH c AS (SELECT * EXCLUDE (event_id, ts, props) "
        "FROM boost.events) "
        "SELECT t.user_id AS uid, t.click AS click, t.error AS error, "
        "t.purchase AS purchase "
        "FROM (SELECT d.user_id AS user_id, d.event_type AS event_type, "
        "CAST(floor(d.value * 1000000.0 + 0.5) AS BIGINT) AS v6 "
        "FROM c d) t "
        "PIVOT (sum(v6) FOR event_type IN ('click', 'error', 'purchase'))",
        EVENTS_BINDING,
    )


@_q(
    "dialect_cast",
    """
    SELECT event_id AS eid,
           CAST(floor(user_id / 4.0) AS BIGINT) AS q,
           CAST(user_id AS DOUBLE) AS ud,
           CAST(event_id AS VARCHAR) AS es
    FROM events WHERE event_type = 'click'
      AND CAST(floor(user_id / 4.0) AS BIGINT) >= 0
    """,
)
def dialect_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAST(expr AS type) as a first-class dialect surface (the fix
    vehicle for the r9 recursive-CTE representation mismatch, here
    certified directly): floor->BIGINT (integral-only — DuckDB's
    double->bigint cast ROUNDS while Spark truncates, so fractional
    casts are refused by convention, not by the grammar), int->DOUBLE
    widening, int->VARCHAR rendering, and a WHERE-side CAST composed
    with a comparison. All casts stay inside the codegen scan
    pipeline. Window slot in round 11 (below the fold this round)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "CAST(floor(click.user_id / 4.0) AS BIGINT) AS q, "
        "CAST(click.user_id AS DOUBLE) AS ud, "
        "CAST(click.event_id AS VARCHAR) AS es "
        "FROM boost.events "
        "WHERE CAST(floor(click.user_id / 4.0) AS BIGINT) >= 0",
        EVENTS_BINDING,
    )


@_q(
    "dialect_scalar_fns2",
    """
    SELECT event_id AS eid,
           nullif(user_id, 0) AS nz,
           greatest(user_id, 100) AS g,
           least(user_id, 100) AS l,
           reverse(CAST(event_id AS VARCHAR)) AS rid,
           replace(CAST(event_id AS VARCHAR), '1', 'x') AS rep,
           ltrim(concat('  ', CAST(user_id AS VARCHAR))) AS lt
    FROM events WHERE event_type = 'click'
    """,
)
def dialect_scalar_fns2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 scalar-function batch through the dialect front:
    nullif / greatest / least / ltrim / rtrim / replace / reverse —
    names and semantics identical on both engines, all compiled to
    built-in Catalyst expressions inside the codegen scan pipeline
    (the whitelist stays the cross-engine-deterministic subset; pow/
    exp/ln stay out — libm last-ulp divergence). Window slot in round
    11 (below the fold this round)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "nullif(click.user_id, 0) AS nz, "
        "greatest(click.user_id, 100) AS g, "
        "least(click.user_id, 100) AS l, "
        "reverse(CAST(click.event_id AS VARCHAR)) AS rid, "
        "replace(CAST(click.event_id AS VARCHAR), '1', 'x') AS rep, "
        "ltrim(concat('  ', CAST(click.user_id AS VARCHAR))) AS lt "
        "FROM boost.events",
        EVENTS_BINDING,
    )


@_q(
    "dialect_extract",
    """
    SELECT event_id AS eid,
           CAST(year(ts) AS BIGINT) AS y,
           CAST(month(ts) AS BIGINT) AS m,
           CAST(day(ts) AS BIGINT) AS d,
           CAST(hour(ts) AS BIGINT) AS h
    FROM events WHERE event_type = 'click'
    """,
)
def dialect_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACT(unit FROM expr) — ANSI date-part sugar compiling to the
    SAME _FN_IMPL entries as the year()/month()/... spellings (the two
    surfaces cannot drift). The entry normalizes the events view to
    TIMESTAMP first (the fixture has shipped ts as both
    TIMESTAMP(NANOS)-as-long and timestamp[us]; scalar date parts need
    the temporal type) and CASTs each part to BIGINT so Spark's
    int32 date parts schema-match DuckDB's int64. Window slot in
    round 11."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        from boostdb_spark.functions.scalar import ns_to_timestamp

        ev = ev.withColumn("ts", ns_to_timestamp("ts"))
    ev.createOrReplaceTempView("events_ts_t")
    b = SeriesFamilyBinding(
        view="events_ts_t", series_col="event_type", value_col="value",
        ts_col="ts",
    )
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "CAST(extract(year FROM click.ts) AS BIGINT) AS y, "
        "CAST(extract(month FROM click.ts) AS BIGINT) AS m, "
        "CAST(extract(day FROM click.ts) AS BIGINT) AS d, "
        "CAST(extract(hour FROM click.ts) AS BIGINT) AS h "
        "FROM boost.events_ts_t",
        b,
    )


@_q(
    "dialect_rank_extras",
    """
    SELECT event_id AS eid,
           CAST(ntile(4) OVER w AS BIGINT) AS q4,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM events WHERE event_type = 'click' AND props ILIKE '%"K": 6%'
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def dialect_rank_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist through the dialect front plus
    ILIKE (case-insensitive LIKE — the pattern's uppercase K only
    matches under ILIKE semantics, so a silent fallback to LIKE would
    empty the result and flip the hash). All three analytics share ONE
    exchange+sort (identical specs); percent_rank/cume_dist are
    integer-ratio doubles (deterministic), ntile is complete-ordered
    by the unique event_id and CAST to BIGINT for schema parity
    (Spark int32 vs DuckDB int64). Window slot in round 11."""
    load_tables(spark, sf_dir)
    out = sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "ntile(4) OVER (PARTITION BY click.user_id "
        "ORDER BY click.event_id) AS q4, "
        "percent_rank() OVER (PARTITION BY click.user_id "
        "ORDER BY click.event_id) AS pr, "
        "cume_dist() OVER (PARTITION BY click.user_id "
        "ORDER BY click.event_id) AS cd "
        "FROM boost.events WHERE click.props ILIKE '%\"K\": 6%'",
        EVENTS_BINDING,
    )
    return out.withColumn("q4", F.col("q4").cast("long"))


@_q(
    "dialect_order_expr",
    """
    SELECT event_id AS eid, value AS v FROM events
    WHERE event_type = 'click'
    ORDER BY floor(v * -1.0), eid LIMIT 200 OFFSET 100
    """,
)
def dialect_order_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY <expression> through the dialect front: arithmetic /
    scalar-fn / CASE sort keys over select-list OUTPUT columns,
    compiled into a hidden column that is dropped after the sort (the
    pagination window — LIMIT+OFFSET — is what makes the sort
    hash-observable; ties on the floor bucket break on the unique
    eid, so the page is a pure function of the data). Bare numbers
    stay ordinals, bare names stay field refs — only unambiguous
    expression heads enter the expression path. Window slot in round
    11."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, click AS v FROM boost.events "
        "ORDER BY floor(v * -1.0), eid LIMIT 200 OFFSET 100",
        EVENTS_BINDING,
    )


@_q(
    "scan_column_profile",
    """
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS event_id_nulls,
           count(DISTINCT event_id) AS event_id_distinct,
           count(DISTINCT event_type) AS event_type_distinct,
           count(DISTINCT user_id) AS user_id_distinct,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS value_nulls,
           min(value) AS value_min, max(value) AS value_max
    FROM events
    """,
)
def scan_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the ANALYZE-TABLE statistics pass every
    ingest pipeline runs before curation): row count, per-column null
    counts, exact distinct cardinalities, numeric min/max — ONE
    multi-distinct aggregate (Spark's Expand + two-level plan) over a
    single scan; at 100 TB the distinct counts swap to
    approx_count_distinct (agg_approx_count_distinct is that
    certified path) while nulls/min/max stay exact and cheap. Window
    slot in round 11."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("event_id_nulls"),
        F.countDistinct("event_id").alias("event_id_distinct"),
        F.countDistinct("event_type").alias("event_type_distinct"),
        F.countDistinct("user_id").alias("user_id_distinct"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("value_nulls"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    )


@_q(
    "dialect_window_frame",
    """
    SELECT event_id AS eid,
           sum(floor(value * 1000000.0 + 0.5))
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv6,
           sum(floor(value * 1000000.0 + 0.5))
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS rs6,
           count(value) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             AS n3
    FROM events WHERE event_type = 'click'
    ORDER BY eid LIMIT 200 OFFSET 50
    """,
)
def dialect_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAMES + LIMIT/OFFSET through the dialect front: ROWS
    BETWEEN (bounded trailing and running-unbounded) parsed into
    rowsBetween specs sharing one window sort, then deterministic
    ORDER BY + OFFSET/LIMIT pagination (plans/sugar.py
    parse_frame_bound / parse_order_limit). Frame sums run on the
    suite's exact-integer grid — sum(floor(x*1e6 + 0.5)) is a sum of
    integer-valued doubles (exact, order-independent, < 2^53), so the
    result cannot depend on the engine's frame-evaluation order
    (DuckDB segment tree vs Spark sequential accumulation) the way a
    raw double frame sum can; the trailing mean is mv6/(1e6*n3) by
    construction. Also exercises the scalar-fn grammar INSIDE an
    analytic argument (sum(floor(...)) OVER ...)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "sum(floor(click * 1000000.0 + 0.5)) OVER (PARTITION BY "
        "click.user_id ORDER BY click.event_id "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv6, "
        "sum(floor(click * 1000000.0 + 0.5)) OVER (PARTITION BY "
        "click.user_id ORDER BY click.event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs6, "
        "count(click) OVER (PARTITION BY click.user_id "
        "ORDER BY click.event_id "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n3 "
        "FROM boost.events ORDER BY eid LIMIT 200 OFFSET 50",
        EVENTS_BINDING,
    )


@_q(
    "dialect_window_range_frame",
    """
    SELECT event_id AS eid,
           sum(floor(value * 1000000.0 + 0.5)) OVER w AS trail6,
           count(value) OVER w AS n
    FROM events WHERE event_type = 'click'
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
                 RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
    """,
)
def dialect_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE BETWEEN INTERVAL frames through the dialect front
    (r8-verdict ask #5) — the trailing-time-window SQL idiom this
    engine exists for: per-user trailing 1h sum/count over click
    events, parsed as ``RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND
    CURRENT ROW`` and planned as ``rangeBetween`` over the canonical
    ns conversion of the ORDER BY time column (ts_ns — representation-
    independent, the certified ts_moving_time_avg/ts_bollinger shape).
    Frame sums run on the exact-integer grid so frame-accumulation
    order cannot flip the hash; frames are value-ranges (no tie
    ambiguity). Cost rule pinned at ts_bollinger: sliding frames are
    O(rows x frame_rows) — frame span is time-bounded per user, never
    corpus-sized."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "sum(floor(click * 1000000.0 + 0.5)) OVER (PARTITION BY "
        "click.user_id ORDER BY click.ts "
        "RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW) "
        "AS trail6, "
        "count(click) OVER (PARTITION BY click.user_id "
        "ORDER BY click.ts "
        "RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW) "
        "AS n "
        "FROM boost.events",
        EVENTS_BINDING,
    )


@_q(
    "dialect_string_agg",
    """
    SELECT user_id AS uid, count(value) AS n,
           string_agg(CAST(event_id AS VARCHAR), '|'
                      ORDER BY event_id) AS ids,
           string_agg(CAST(event_id AS VARCHAR), ','
                      ORDER BY event_id DESC) AS ids_desc
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def dialect_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string_agg/listagg WITHIN GROUP (ORDER BY ...) through the
    dialect front (r10-verdict ask #5) — the ordered-set aggregate the
    reference's TiDB parser accepts before dropping the statement
    (query/parser/parser.go:25-45). The ANSI ``WITHIN GROUP`` spelling
    is REQUIRED by this dialect (unordered concatenation is
    nondeterministic on any distributed engine) and compiles to
    array_join(transform(array_sort(collect_list(struct(key, val))),
    s -> s.val), sep): one JVM-side partial+final hash aggregate, no
    UDF, ties broken by the value itself so the hash cannot depend on
    engine-internal row order. Both directions exercised (DESC is a
    reverse() of the sorted array). event_id is unique per group, so
    the oracle's ORDER BY matches without a tie-break column."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT purchase.user_id AS uid, count(purchase) AS n, "
        "string_agg(purchase.event_id, '|') WITHIN GROUP "
        "(ORDER BY purchase.event_id) AS ids, "
        "listagg(purchase.event_id, ',') WITHIN GROUP "
        "(ORDER BY purchase.event_id DESC) AS ids_desc "
        "FROM boost.events GROUP BY purchase.user_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_bool_agg",
    """
    SELECT user_id AS uid,
           bool_and(value < 400.0) AS all_small,
           bool_or(value > 300.0) AS any_big,
           bool_and(value >= 0.0) AS non_negative,
           bool_or(value > 100.0) FILTER (WHERE event_id % 2 = 0)
             AS any_big_even
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def dialect_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI boolean aggregates through the dialect front: bool_and /
    every and bool_or over full PREDICATE arguments (comparisons, not
    just columns), composing with the aggregate FILTER clause — the
    parser-accepted surface at query/parser/parser.go:25-45, lowered
    to Spark's native bool_and/bool_or inside the one partial+final
    hash aggregate every other aggregate in the statement shares.
    Exact booleans — no FP concerns, bit-exact on any engine."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT purchase.user_id AS uid, "
        "bool_and(purchase < 400.0) AS all_small, "
        "bool_or(purchase > 300.0) AS any_big, "
        "every(purchase >= 0.0) AS non_negative, "
        "bool_or(purchase > 100.0) FILTER "
        "(WHERE purchase.event_id % 2 = 0) AS any_big_even "
        "FROM boost.events GROUP BY purchase.user_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_percentile_cont",
    """
    SELECT user_id AS uid, count(value) AS n,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY event_id) AS p25,
           percentile_cont(0.5)  WITHIN GROUP (ORDER BY event_id) AS p50,
           percentile_cont(0.75) WITHIN GROUP (ORDER BY event_id DESC)
             AS p75d
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def dialect_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_cont(f) WITHIN GROUP (ORDER BY k) through the dialect
    front (r11-verdict ask #4) — the ANSI continuous inverse-
    distribution aggregate the reference's TiDB parser accepts before
    dropping the statement (query/parser/parser.go:25-45). Lowers to
    Spark's NATIVE percentile_cont aggregate expression: one JVM-side
    partial+final ObjectHashAggregate, no UDF, no second shuffle.
    Hash-parity discipline: the sort key is an INTEGER column and the
    fractions are powers of two (0.25/0.5/0.75), so the interpolation
    lo + (hi-lo)*f is EXACT in double on both engines — no rounding
    fence needed (contrast agg_percentiles, which rounds 6dp to absorb
    the interpolation ulp on arbitrary doubles). DESC exercised: for
    _cont it must equal percentile_cont(1-f) ASC, and both engines
    honor the reversal natively."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT purchase.user_id AS uid, count(purchase) AS n, "
        "percentile_cont(0.25) WITHIN GROUP "
        "(ORDER BY purchase.event_id) AS p25, "
        "percentile_cont(0.5) WITHIN GROUP "
        "(ORDER BY purchase.event_id) AS p50, "
        "percentile_cont(0.75) WITHIN GROUP "
        "(ORDER BY purchase.event_id DESC) AS p75d "
        "FROM boost.events GROUP BY purchase.user_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_percentile_disc",
    """
    SELECT user_id AS uid, count(value) AS n,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90,
           percentile_disc(0.1) WITHIN GROUP (ORDER BY value DESC)
             AS p90d
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def dialect_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_disc(f) WITHIN GROUP (ORDER BY k) through the dialect
    front (r11-verdict ask #4) — the DISCRETE inverse-distribution
    aggregate: the first actual data element whose cume_dist >= f.
    Because the result is always an element of the input (never an
    interpolation), the entry is bit-exact on raw doubles with no
    rounding fence — the FP-safety twin of dialect_percentile_cont.
    Same native lowering: one partial+final ObjectHashAggregate.
    DESC genuinely differs for _disc (unlike _cont it is NOT the
    1-f reflection when f*n lands exactly on an element boundary), so
    the descending form is certified on its own."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT purchase.user_id AS uid, count(purchase) AS n, "
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY purchase) AS med, "
        "percentile_disc(0.9) WITHIN GROUP (ORDER BY purchase) AS p90, "
        "percentile_disc(0.1) WITHIN GROUP (ORDER BY purchase DESC) "
        "AS p90d "
        "FROM boost.events GROUP BY purchase.user_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_groups_frame",
    """
    WITH t AS (
      SELECT user_id AS uid, event_id AS eid,
             floor(value * 10.0) AS vb,
             floor(value * 1000000.0 + 0.5) AS v6
      FROM events WHERE event_type = 'click'),
    r AS (
      SELECT *, dense_rank() OVER (PARTITION BY uid ORDER BY vb) AS g
      FROM t)
    SELECT eid,
           sum(v6) OVER (PARTITION BY uid ORDER BY g
                         RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)
             AS gsum,
           count(v6) OVER (PARTITION BY uid ORDER BY g
                           RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)
             AS gn
    FROM r
    """,
)
def dialect_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI GROUPS window frames through the dialect front (r10-verdict
    ask #5): ``GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW`` counts PEER
    GROUPS of the ORDER BY key (here the value decile bucket), so every
    row of the current bucket plus the previous bucket aggregates —
    frame membership depends only on the bucket, never on engine row
    order, which is what makes a GROUPS frame hash-certifiable where a
    ROWS frame over a tied key is not. Spark has no native GROUPS mode:
    the planner lowers it to rangeBetween over a dense_rank() of the
    sort key, both Window passes sharing one (partition, order) sort —
    ONE Exchange in the plan (pinned in tests/test_plan_shapes.py).
    DuckDB lacks GROUPS too ('not implemented yet'), so the oracle
    spells the SAME lowering analytically. Exact-integer v6 grid keeps
    the frame sums order-independent."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT t.eid AS eid, "
        "sum(v6) OVER (PARTITION BY t.uid ORDER BY t.vb "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS gsum, "
        "count(v6) OVER (PARTITION BY t.uid ORDER BY t.vb "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS gn "
        "FROM (SELECT click.user_id AS uid, click.event_id AS eid, "
        "floor(click * 10.0) AS vb, "
        "floor(click * 1000000.0 + 0.5) AS v6 "
        "FROM boost.events) t",
        EVENTS_BINDING,
    )


@_q(
    "dialect_frame_exclude",
    """
    SELECT event_id AS eid,
           sum(floor(value * 1000000.0 + 0.5))
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
                   EXCLUDE CURRENT ROW) AS nbr_sum,
           min(value)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                   EXCLUDE CURRENT ROW) AS nbr_min,
           avg(floor(value * 1000000.0 + 0.5))
             OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)
                   RANGE BETWEEN 7200000000000 PRECEDING
                             AND 7200000000000 FOLLOWING
                   EXCLUDE TIES) AS win_avg
    FROM events WHERE event_type = 'click'
    """,
)
def dialect_frame_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI window frame EXCLUSION through the dialect front — EXCLUDE
    CURRENT ROW / GROUP / TIES, the last piece of the ANSI frame
    clause after ROWS/RANGE/GROUPS landed (r10). Spark has no native
    frame exclusion; the planner (plans/sugar.py::_window_exclude)
    rewrites each mode as a composition of window aggregates sharing
    the base sort: sum/count/avg subtract the current row (or the
    peer-group aggregate, computed with rangeBetween(0,0) over the
    same sort) from the full-frame aggregate, NULL-guarded by the
    excluded non-null count; min/max split the ROWS frame into the
    [lo,-1]/[1,hi] siblings and recombine with null-skipping
    least/greatest. One Exchange on user_id serves all three columns
    (pinned in tests/test_plan_shapes.py). The leave-one-out window
    aggregate is the standard anomaly-score shape ("how far is this
    event from its NEIGHBORS' aggregate") — at 100 TB it costs exactly
    what the plain frame aggregate costs: same shuffle, same sort, a
    constant number of extra per-row window reads. DuckDB spells the
    clause natively for the oracle; frame sums ride the exact-integer
    v6 grid so accumulation order cannot flip the hash, and the
    avg-EXCLUDE-TIES division is the same two exact operands in both
    engines. EXCLUDE GROUP over a GROUPS frame is certified by the
    property suite (DuckDB lacks GROUPS mode; tests/test_sugar.py
    pins the dense-rank lowering against the analytic rewrite)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, "
        "sum(floor(click * 1000000.0 + 0.5)) OVER (PARTITION BY "
        "click.user_id ORDER BY click.event_id "
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING "
        "EXCLUDE CURRENT ROW) AS nbr_sum, "
        "min(click.value) OVER (PARTITION BY click.user_id "
        "ORDER BY click.event_id "
        "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING "
        "EXCLUDE CURRENT ROW) AS nbr_min, "
        "avg(floor(click * 1000000.0 + 0.5)) OVER (PARTITION BY "
        "click.user_id ORDER BY click.ts "
        "RANGE BETWEEN INTERVAL '2' HOUR PRECEDING "
        "AND INTERVAL '2' HOUR FOLLOWING EXCLUDE TIES) AS win_avg "
        "FROM boost.events",
        EVENTS_BINDING,
    )


@_q(
    "dialect_limit_ties",
    """
    SELECT eid, uid FROM (
      SELECT event_id AS eid, user_id AS uid,
             rank() OVER (ORDER BY user_id ASC) AS rk
      FROM events WHERE event_type = 'click') WHERE rk <= 37
    """,
)
def dialect_limit_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LIMIT n WITH TIES (FETCH FIRST ... WITH TIES semantics)
    through the dialect front: rows tied with the page boundary on the
    FULL ORDER BY key are included, so the RESULT SET is deterministic
    even when the sort key alone is not a total order — which is
    exactly when users reach for WITH TIES. Planned scale-first: a
    broadcast LEFT-SEMI join against the DISTINCT sort keys of the
    top-n page (n rows by construction — always broadcast-sized),
    NEVER a global rank() window, which would single-partition the
    corpus (the DuckDB oracle spells that rank lowering, the same
    oracle-spells-the-lowering pattern as the GROUPS frames). OFFSET
    combination and set-operation tails refuse loudly; ORDER BY is
    required (ties are defined by the sort key)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, click.user_id AS uid "
        "FROM boost.events ORDER BY uid ASC LIMIT 37 WITH TIES",
        EVENTS_BINDING,
    )


@_q(
    "dialect_named_window",
    """
    SELECT event_id AS eid,
           sum(floor(value * 1000000.0 + 0.5)) OVER w AS rs6,
           count(value) OVER w AS n
    FROM events WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def dialect_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause (ANSI ``WINDOW w AS (spec)``) through the
    dialect front: ONE declared spec shared by every ``OVER w`` in the
    select list, so repeated analytic specs cannot silently drift
    apart (the repo's own oracles lean on DuckDB's WINDOW clause for
    exactly this reason — now the dialect has it too). ``OVER w`` is a
    forward reference resolved after the clause parses; unknown or
    missing names refuse loudly. Both projections share one window
    sort; exact-integer grid for order-independent frame sums."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT purchase.event_id AS eid, "
        "sum(floor(purchase * 1000000.0 + 0.5)) OVER w AS rs6, "
        "count(purchase) OVER w AS n "
        "FROM boost.events "
        "WINDOW w AS (PARTITION BY purchase.user_id "
        "ORDER BY purchase.event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
        EVENTS_BINDING,
    )


@_q(
    "dialect_qualify",
    """
    SELECT user_id, event_id AS eid, value AS v,
           rank() OVER (PARTITION BY user_id ORDER BY value DESC) AS rnk
    FROM events
    WHERE event_type = 'click' AND value < 100.0
    QUALIFY rnk <= 3
    """,
)
def dialect_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY through the dialect front — the HAVING analog for
    analytic queries (DuckDB/Snowflake surface; the reference's parser
    has neither OVER nor QUALIFY). ``QUALIFY rnk <= 3`` filters the
    window projection by its select-list OUTPUT name, planned as a
    filter AFTER the Window operator and before ORDER/LIMIT — the
    top-k-per-group idiom in one statement instead of a derived-table
    wrap. rank() (not row_number) keeps the kept set deterministic
    under value ties: tied rows share a rank and are kept or dropped
    together."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.user_id AS user_id, click.event_id AS eid, "
        "click AS v, "
        "rank() OVER (PARTITION BY click.user_id ORDER BY click DESC) AS rnk "
        "FROM boost.events WHERE click < 100.0 QUALIFY rnk <= 3",
        EVENTS_BINDING,
    )


@_q(
    "dialect_nulls_order",
    """
    SELECT l.event_id AS eid, r.o_orderkey AS okey
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'O') r
      ON l.user_id = r.o_custkey
    ORDER BY okey ASC NULLS FIRST, eid ASC
    LIMIT 300
    """,
)
def dialect_nulls_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... NULLS FIRST/LAST through the dialect front. The
    engines DISAGREE on the default null position (Spark ties it to
    the direction — ASC puts NULLs first; DuckDB defaults to NULLS
    LAST) so an explicit NULLS clause is the only portable ordering
    for nullable sort keys — here the NULL-extended right side of a
    LEFT JOIN under a LIMIT, where the null position decides WHICH
    rows survive pagination. (okey, eid) is a unique pair (each side
    of the equi join keys one entity), so the kept set is fully
    deterministic."""
    load_tables(spark, sf_dir)
    bindings = {
        "boost.events": EVENTS_BINDING,
        "boost.orders": sugar.SeriesFamilyBinding(
            view="orders",
            series_col="o_orderstatus",
            value_col="o_totalprice",
            ts_col="o_orderdate",
        ),
    }
    return sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.O.o_orderkey AS okey "
        "FROM boost.events a LEFT JOIN boost.orders b "
        "ON a.user_id = b.o_custkey "
        "ORDER BY okey NULLS FIRST, eid LIMIT 300",
        bindings,
    )


@_q(
    "agg_grouping_fn",
    """
    SELECT coalesce(event_type, 'ALL') AS et,
           CAST(grouping(event_type) AS BIGINT) AS g,
           count(*) AS n
    FROM events GROUP BY ROLLUP(event_type)
    """,
)
def agg_grouping_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() over a ROLLUP — the disambiguator between a
    rollup-generated NULL (the total row) and a genuine NULL key,
    without which rollup results are unconsumable on nullable
    dimensions. Compiles to Spark's native Expand + grouping_id
    bitmask; the oracle is DuckDB's own GROUPING()."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .rollup("event_type")
        .agg(
            F.grouping("event_type").cast("long").alias("g"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("et"),
            "g",
            "n",
        )
    )


@_q(
    "dialect_join_theta",
    """
    SELECT a.event_id AS eid, b.event_id AS pid
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id AND b.ts > a.ts AND b.value > a.value
    """,
)
def dialect_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta conjuncts in JOIN ... ON through the dialect front: the
    whole ON clause parses as one expression and decomposes — equality
    conjuncts between plain refs become the equi anchor (hash-join
    keys), every other conjunct (range/theta predicates) rides the
    SAME join as its non-equi condition. A theta-only ON is refused
    loudly (it would plan a cartesian); with the anchor present the
    plan stays a hash join whose residual filters bound the fanout
    per key. Here: clicks paired with the user's LATER purchases of a
    HIGHER value — two theta conjuncts over time and value."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.purchase.event_id AS pid "
        "FROM boost.events a JOIN boost.events b "
        "ON a.user_id = b.user_id AND b.ts > a.ts AND b.value > a.value",
        EVENTS_BINDING,
    )


@_q(
    "dialect_filter_agg",
    """
    SELECT user_id AS uid, count(*) AS n,
           count(*) FILTER (WHERE value > 50.0) AS n_hi,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                FILTER (WHERE value > 50.0) AS DOUBLE) AS s6_hi,
           min(value) FILTER (WHERE value > 50.0) AS min_hi
    FROM events WHERE event_type = 'click'
    GROUP BY 1
    """,
)
def dialect_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI aggregate FILTER clause through the dialect front:
    ``agg(x) FILTER (WHERE pred)`` excludes rows from THIS aggregate
    only — the standard multi-metric one-pass idiom (every engine
    ships it; the CASE-arm workaround is what Q12/Q14 already
    certify). Emitted as Spark's native aggregate FILTER, so the
    whole select stays ONE partial+final hash aggregate (the filter
    rides each aggregate's update). A FILTERed aggregate never
    satisfies a HAVING/ORDER lookup for its unfiltered twin (post_name
    guard). Groups with no qualifying rows surface NULL (count: 0) on
    both engines. The oracle's s6_hi casts to DOUBLE to match Spark's
    double sum (r10: the hardened int-vs-float gate caught the old
    AS BIGINT oracle as a representation twin — it only hash-matched
    at SFs where a NULL group happened to coerce the oracle column to
    float64)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.user_id AS uid, count(*) AS n, "
        "count(*) FILTER (WHERE click > 50.0) AS n_hi, "
        "sum(floor(click * 1000000.0 + 0.5)) "
        "FILTER (WHERE click > 50.0) AS s6_hi, "
        "min(click) FILTER (WHERE click > 50.0) AS min_hi "
        "FROM boost.events GROUP BY click.user_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_using",
    """
    SELECT a.event_id AS eid, b.value AS pv
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      USING (user_id)
    """,
)
def dialect_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN ... USING (k) through the dialect front — the same-named
    equi-key shorthand every ANSI engine ships; USING columns resolve
    against the FROM source on the left and the joined source on the
    right, compiling to the identical hash-join condition as the
    explicit ON form."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, b.purchase AS pv "
        "FROM boost.events a JOIN boost.events b USING (user_id)",
        EVENTS_BINDING,
    )


@_q(
    "dialect_group_all",
    """
    SELECT user_id AS uid, floor(value / 25.0) AS bin,
           count(*) AS n, min(value) AS vmin, max(value) AS vmax
    FROM events WHERE event_type = 'click'
    GROUP BY ALL
    """,
)
def dialect_group_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL through the dialect front (the DuckDB ergonomic
    adopted across modern engines): every non-aggregate select item —
    plain refs directly, computed items via their AS alias — becomes a
    group key, so the grouping clause cannot silently drift from the
    projection. The oracle exercises DuckDB's own GROUP BY ALL, so the
    two engines' expansion RULES are certified against each other."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.user_id AS uid, floor(click / 25.0) AS bin, "
        "count(*) AS n, min(click) AS vmin, max(click) AS vmax "
        "FROM boost.events GROUP BY ALL",
        EVENTS_BINDING,
    )


@_q(
    "dialect_asof_join",
    """
    SELECT a.event_id AS eid, a.value AS v, b.value AS pv
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id AND a.ts >= b.ts
    """,
)
def dialect_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF JOIN through the dialect front (the kdb/DuckDB/QuestDB
    time-series join surface): equi keys in ON, time ordering IMPLICIT
    on each family's canonical ts column (backward — latest right row
    at or before the left ts; unmatched left rows keep NULLs, matching
    DuckDB's ASOF LEFT JOIN). Plans through the certified one-shuffle
    union+window asof_join (operators/timeseries.py:246), not a range
    explode — so it scales to both sides being 100 TB streams. Here:
    every click enriched with the user's latest preceding purchase."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT a.click.event_id AS eid, a.click AS v, b.purchase AS pv "
        "FROM boost.events a ASOF JOIN boost.events b "
        "ON a.user_id = b.user_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_scalar_fns",
    """
    SELECT event_id AS eid,
           abs(value - 50.0) AS dist,
           floor(value * 100.0 + 0.5) / 100.0 AS v2,
           floor(value / 25.0) AS bin,
           sqrt(abs(value)) AS rt,
           upper(props) AS pu,
           CAST(length(props) AS INT) AS plen,
           coalesce(props, 'x') AS pc,
           substring(props, 1, 4) AS p4
    FROM events
    WHERE event_type = 'click'
      AND abs(value - 50.0) > 5.0 AND length(props) > 2
    """,
)
def dialect_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function calls through the dialect front (plans/sugar.py
    _SCALAR_FUNCS whitelist), in SELECT expressions AND WHERE
    predicates — the grammar completion the reference's whereparser
    never had (whereparser.go:136-287 parses zero function calls).
    Every function in the certified set is cross-engine
    bit-deterministic: abs/sqrt are correctly-rounded IEEE, floor/ceil
    pin DOUBLE, round() compiles to the floor-grid
    floor(x*10^n+0.5)/10^n (identical ops on both engines — ANSI
    half-up is not bit-stable across engines), and the string fns are
    exact. The WHERE calls still reach the scan as one codegen filter
    stage."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT click.event_id AS eid, abs(click - 50.0) AS dist, "
        "round(click, 2) AS v2, floor(click / 25.0) AS bin, "
        "sqrt(abs(click)) AS rt, upper(click.props) AS pu, "
        "length(click.props) AS plen, coalesce(click.props, 'x') AS pc, "
        "substring(click.props, 1, 4) AS p4 "
        "FROM boost.events "
        "WHERE abs(click - 50.0) > 5.0 AND length(click.props) > 2",
        EVENTS_BINDING,
    )


@_q(
    "dialect_exists",
    """
    SELECT event_id AS eid, user_id AS uid, 'exists' AS flavor
    FROM events e
    WHERE e.event_type = 'click' AND EXISTS (
      SELECT 1 FROM events s WHERE s.event_type = 'purchase'
        AND s.user_id = e.user_id AND s.value > 250.0)
    UNION ALL
    SELECT event_id AS eid, user_id AS uid, 'not_exists' AS flavor
    FROM events e
    WHERE e.event_type = 'click' AND NOT EXISTS (
      SELECT 1 FROM events s WHERE s.event_type = 'purchase'
        AND s.user_id = e.user_id AND s.value > 250.0)
    """,
)
def dialect_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[NOT] EXISTS subqueries through the dialect front
    (plans/sugar.py parse_predicate / _split_exists): the correlated
    equality decorrelates to a left SEMI join, the negation to a left
    ANTI join — Catalyst's own EXISTS shapes, no per-row subquery
    execution, both inner filters pushed into the subquery scan
    (completes the declared Aggregate-as-expression surface,
    query/base/expression.go:16-18, alongside dialect_subquery's
    IN/scalar forms). Both flavors certify in one statement: clicks by
    users WITH a >250 purchase, unioned with clicks by users WITHOUT
    one, each row tagged by which side produced it."""
    load_tables(spark, sf_dir)
    ex = sugar.query(
        spark,
        "SELECT click.event_id AS eid, click.user_id AS uid "
        "FROM boost.events e WHERE EXISTS "
        "(SELECT purchase.user_id FROM boost.events s "
        "WHERE s.purchase.user_id = e.click.user_id AND purchase > 250.0)",
        EVENTS_BINDING,
    ).withColumn("flavor", F.lit("exists"))
    ne = sugar.query(
        spark,
        "SELECT click.event_id AS eid, click.user_id AS uid "
        "FROM boost.events e WHERE NOT EXISTS "
        "(SELECT purchase.user_id FROM boost.events s "
        "WHERE s.purchase.user_id = e.click.user_id AND purchase > 250.0)",
        EVENTS_BINDING,
    ).withColumn("flavor", F.lit("not_exists"))
    return ex.unionByName(ne)


@_q(
    "dialect_case",
    """
    WITH r AS (
      SELECT event_id AS eid, user_id AS uid,
             CASE WHEN value > 100.0 THEN 'big'
                  WHEN value > 10.0 THEN 'mid'
                  ELSE 'small' END AS bucket,
             CASE floor(value / 50.0) WHEN 0.0 THEN 'lo'
                  WHEN 1.0 THEN 'hi' ELSE 'xl' END AS band
      FROM events
      WHERE event_type = 'click'
        AND (CASE WHEN user_id < 0 THEN 0 ELSE user_id END) < 100
    ),
    a AS (
      SELECT user_id AS uid,
             CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_big,
             sum(CASE WHEN value > 100.0
                      THEN floor(value * 1000000.0 + 0.5)
                      ELSE 0 END) AS big6
      FROM events WHERE event_type = 'click' GROUP BY user_id
    )
    SELECT r.eid, r.uid, r.bucket, r.band, a.n_big, a.big6
    FROM r JOIN a USING (uid)
    """,
)
def dialect_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE expressions through the dialect front (plans/sugar.py
    parse_case), all three positions in one certified statement:
    searched CASE as a projection (value buckets), simple CASE with an
    expression subject (floor-banded tiers), CASE inside a WHERE
    comparison, and the conditional-aggregation idiom
    ``sum(CASE WHEN ... THEN ... ELSE 0 END)`` — the pivot/cohort
    building block. Everything compiles to one Catalyst CaseWhen chain
    (pure codegen, no UDF); the conditional sum runs on the exact
    integer grid so engine accumulation order cannot bite. The
    reference's expression tree has no conditional node at all
    (query/base/expression.go enumerates arithmetic + logical ops
    only), so this is beyond-reference grammar completion like the
    scalar-fn set."""
    load_tables(spark, sf_dir)
    rows = sugar.query(
        spark,
        "SELECT click.event_id AS eid, click.user_id AS uid, "
        "CASE WHEN click > 100.0 THEN 'big' WHEN click > 10.0 THEN 'mid' "
        "ELSE 'small' END AS bucket, "
        "CASE floor(click / 50.0) WHEN 0.0 THEN 'lo' WHEN 1.0 THEN 'hi' "
        "ELSE 'xl' END AS band "
        "FROM boost.events "
        "WHERE CASE WHEN click.user_id < 0 THEN 0 ELSE click.user_id END "
        "< 100",
        EVENTS_BINDING,
    )
    aggs = sugar.query(
        spark,
        "SELECT click.user_id AS uid, "
        "sum(CASE WHEN click > 100.0 THEN 1 ELSE 0 END) AS n_big, "
        "sum(CASE WHEN click > 100.0 THEN floor(click * 1000000.0 + 0.5) "
        "ELSE 0 END) AS big6 "
        "FROM boost.events GROUP BY click.user_id",
        EVENTS_BINDING,
    )
    return rows.join(aggs, "uid").select(
        "eid", "uid", "bucket", "band", "n_big", "big6"
    )


@_q(
    "agg_q12_priority_lines",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape over the fixture's columns (shipmode/commit
    dates absent — return flag and order priority carry the same
    structure): fact-to-fact join with a pushed date-range filter, then
    DUAL CONDITIONAL COUNTERS — sum(CASE WHEN priority-class THEN 1) —
    per group, the one-pass pivot every report query uses instead of
    two scans + a join. The CASE never leaves codegen; counts are
    exact integers; AQE picks broadcast vs sort-merge from runtime
    sizes like the other TPC-H shapes."""
    cutlo = F.lit("1996-01-01").cast("timestamp_ntz")
    cuthi = F.lit("1998-01-01").cast("timestamp_ntz")
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= cutlo) & (F.col("l_shipdate") < cuthi)
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(t["orders"], li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "dialect_group_expr",
    """
    SELECT floor(value / 50.0) AS bin,
           CASE WHEN value > 100.0 THEN 'big' ELSE 'small' END AS tier,
           CAST(count(*) AS BIGINT) AS n,
           sum(floor(value * 1000000.0 + 0.5)) AS total6
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2 HAVING count(*) > 1
    """,
)
def dialect_group_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY computed expressions through the dialect front: a
    computed select item (scalar-fn arithmetic, CASE) serves as a
    group key via its AS alias — the derived-bucket aggregation
    (histograms, cohort tiers) every SQL user reaches for. The
    expression materializes as ONE codegen column before the groupBy,
    so the plan is the standard partial+final hash aggregate on the
    derived key; HAVING filters the groups. The reference's GROUP BY
    is a declared-only enum (query/base/expression.go:22-25) — this
    completes the grammar two steps beyond (expressions, then
    conditional expressions, as keys)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT floor(click / 50.0) AS bin, "
        "CASE WHEN click > 100.0 THEN 'big' ELSE 'small' END AS tier, "
        "count(*) AS n, "
        "sum(floor(click * 1000000.0 + 0.5)) AS total6 "
        "FROM boost.events GROUP BY bin, tier HAVING n > 1",
        EVENTS_BINDING,
    )


@_q(
    "agg_q3_topk",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_date, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def agg_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter -> fact-to-fact join
    -> grouped revenue -> global top-k. The full multi-operator
    pipeline in one plan: both date filters push to the scans, the
    joins pick broadcast at test SF and sort-merge on the order key at
    scale (AQE decides from runtime sizes), and the top-k is
    TakeOrdered (no global sort materialization). Revenue summed as
    DECIMAL so the top-10 cut is engine-order-independent."""
    cutoff = F.lit("1998-06-01").cast("timestamp_ntz")
    t = load_tables(spark, sf_dir)
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_orderpriority",
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_date", "o_orderpriority")
    )


@_q(
    "subquery_exists",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
    """,
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery — the remaining declared 'Aggregate =
    single-value subquery' form (query/base/expression.go:16-18) next
    to subquery_scalar/subquery_in. Catalyst decorrelates it to a left
    semi join on the correlation key; no per-row subquery execution."""
    t = load_tables(spark, sf_dir)
    t["customer"].createOrReplaceTempView("_sq_cust")
    t["orders"].createOrReplaceTempView("_sq_ord")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM _sq_cust c
        WHERE EXISTS (SELECT 1 FROM _sq_ord o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
        """
    )


@_q(
    "dialect_ignore_nulls",
    """
    WITH d AS (
      SELECT event_id AS eid, user_id AS uid,
             CASE WHEN value < 2.0 THEN NULL ELSE value END AS v
      FROM events WHERE event_type = 'click')
    SELECT eid, uid,
           last_value(v IGNORE NULLS)
             OVER (PARTITION BY uid ORDER BY eid) AS filled
    FROM d
    """,
)
def dialect_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``last_value(v) IGNORE NULLS OVER (...)`` through the dialect
    front — the ANSI null-treatment modifier that makes SQL gap-fill
    (LOCF: carry the last observation forward over NULL readings)
    expressible in one analytic projection, certifying the DataFrame
    layer's gapfill_locf idiom from SQL. Spark exposes the flag on
    first/last, DuckDB takes it inside the call parens — same
    semantics, both over the default RANGE UNBOUNDED
    PRECEDING..CURRENT ROW frame. lag/lead refuse the modifier loudly
    (Spark does not expose it there)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT eid, uid, last_value(v) IGNORE NULLS "
        "OVER (PARTITION BY uid ORDER BY eid) AS filled "
        "FROM (SELECT click.event_id AS eid, click.user_id AS uid, "
        "CASE WHEN click < 2.0 THEN null ELSE click END AS v "
        "FROM boost.events) d",
        EVENTS_BINDING,
    )


@_q(
    "dialect_distinct_on",
    """
    SELECT DISTINCT ON (user_id) user_id AS uid, event_id AS eid,
           value AS v
    FROM events WHERE event_type = 'click'
    ORDER BY user_id ASC, event_id DESC
    """,
)
def dialect_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT DISTINCT ON (k)`` through the dialect front — the
    postgres/DuckDB one-survivor-per-group idiom (here: each user's
    LATEST click, the latest-point query ts_latest_point certifies
    DataFrame-side). Compiled as ONE row_number window partitioned by
    the ON keys and ordered by the residual ORDER BY — never a
    self-join. The ORDER BY must lead with the ON columns (postgres
    rule) and add >=1 tiebreak key, so which row survives is
    deterministic under the hash gate (event_id is unique)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT DISTINCT ON (uid) uid, eid, v FROM "
        "(SELECT click.user_id AS uid, click.event_id AS eid, "
        "click AS v FROM boost.events) d "
        "ORDER BY uid ASC, eid DESC",
        EVENTS_BINDING,
    )


@_q(
    "dialect_select_exclude",
    """
    SELECT * EXCLUDE (ts, props) FROM events
    WHERE event_type = 'click' AND value > 50.0
    """,
)
def dialect_select_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT * EXCLUDE (cols)`` through the dialect front
    (DuckDB/Snowflake star-minus surface; the oracle runs DuckDB's
    native EXCLUDE). The drop applies before execution, so Catalyst's
    column pruning still narrows the parquet ReadSchema — a star
    query that excludes the wide payload column reads a narrow scan,
    which is the whole point of the idiom at 100 TB. Unknown names
    refuse loudly."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT * EXCLUDE (ts, props) FROM boost.events "
        "WHERE click > 50.0",
        EVENTS_BINDING,
    )


@_q(
    "dialect_values",
    """
    SELECT e.event_id AS eid, t.tier AS tier
    FROM events e
    JOIN (VALUES ('click', 'engagement'), ('purchase', 'conversion'),
                 ('signup', 'conversion'), ('view', 'impression'),
                 ('error', 'ops')) t(etype, tier)
      ON e.event_type = t.etype
    """,
)
def dialect_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(VALUES ...) t(a, b)`` through the dialect front — the ANSI
    inline constant table, here in its canonical 100-TB role: a tiny
    literal dimension (event-type -> tier rollup map) joined to the
    fact family. The literal rows materialize as ONE LocalRelation
    (no scan, no shuffle) and Spark broadcast-joins it for free;
    column types infer per column over all rows (int->bigint,
    any-float->double, string/bool), all-NULL columns refuse."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT e.event_id AS eid, t.tier AS tier "
        "FROM (SELECT * FROM boost.events) e "
        "JOIN (VALUES ('click', 'engagement'), "
        "('purchase', 'conversion'), ('signup', 'conversion'), "
        "('view', 'impression'), ('error', 'ops')) t(etype, tier) "
        "ON e.event_type = t.etype",
        EVENTS_BINDING,
    )


@_q(
    "ts_integral",
    """
    WITH x AS (
      SELECT event_type, epoch_ns(ts) AS t, value,
             epoch_ns(ts) - epoch_ns(ts) % 21600000000000 AS bucket,
             lead(epoch_ns(ts)) OVER w AS nt,
             lead(value) OVER w AS nv
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_ns(ts), value)),
    p AS (
      SELECT event_type, bucket, t,
             (value + nv) * 0.5 * CAST(nt - t AS DOUBLE) AS a
      FROM x WHERE nt - nt % 21600000000000 = bucket)
    SELECT event_type, bucket,
           list_reduce(list_prepend(0.0, list(a ORDER BY t)),
                       (acc, e) -> acc + e) / 1e9 AS integral,
           count(*) AS n_pairs
    FROM p GROUP BY event_type, bucket
    """,
)
def ts_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_weighted_integral(): 6h trapezoidal area under each series
    in value*seconds (TimescaleDB ``integral`` analog; the rich-time-
    series north star, reference README.md:8). Boundary-crossing pairs
    excluded by contract; the trapezoid sum is a ts-ordered left fold,
    so the double hash-matches the oracle bit for bit."""
    t = load_tables(spark, sf_dir)
    return ts_ops.time_weighted_integral(
        _ns_events(t), bucket_seconds=21600, series_cols=("event_type",)
    )


@_q(
    "ts_drawdown",
    """
    WITH x AS (
      SELECT event_type, value AS v,
             max(value) OVER (PARTITION BY event_type
                              ORDER BY epoch_ns(ts), value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS pk
      FROM events)
    SELECT event_type,
           max(pk - v) AS max_dd,
           max(CASE WHEN pk > 0 THEN (pk - v) / pk END) AS max_dd_rel,
           max(v) AS peak
    FROM x GROUP BY event_type
    """,
)
def ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_drawdown(): largest decline below the running high-water
    mark per series — absolute and relative (relative only against a
    positive peak). Running max over a (ts, value)-ordered frame is
    exact double comparison, so no fold machinery is needed; one
    window shuffle + one hash aggregate."""
    t = load_tables(spark, sf_dir)
    return ts_ops.max_drawdown(_ns_events(t), series_cols=("event_type",))


@_q(
    "ts_uptime_sla",
    """
    WITH x AS (
      SELECT event_type, epoch_ns(ts) AS t,
             lead(epoch_ns(ts)) OVER (PARTITION BY event_type
                                      ORDER BY epoch_ns(ts))
               - epoch_ns(ts) AS g
      FROM events)
    SELECT event_type,
           max(t) - min(t) AS span_ns,
           CAST(sum(least(g, 3600000000000)) AS BIGINT) AS uptime_ns,
           CAST(sum(least(g, 3600000000000)) AS DOUBLE)
             / nullif(CAST(max(t) - min(t) AS DOUBLE), 0.0)
             AS availability,
           coalesce(CAST(sum(CASE WHEN g > 3600000000000 THEN 1
                             ELSE 0 END) AS BIGINT), 0) AS n_gaps
    FROM x GROUP BY event_type
    """,
)
def ts_uptime_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uptime_sla(): heartbeat-based availability per series
    (TimescaleDB heartbeat_agg analog) with a 1h heartbeat — an
    observation proves liveness for min(gap, heartbeat) ns; longer
    gaps count as downtime and increment n_gaps. Integer-ns math up
    to the single final division."""
    t = load_tables(spark, sf_dir)
    return ts_ops.uptime_sla(
        _ns_events(t), heartbeat_seconds=3600, series_cols=("event_type",)
    )


@_q(
    "ts_lttb",
    """
    WITH x AS (
      SELECT event_type, epoch_ns(ts) AS t, value AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY epoch_ns(ts), value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    b AS (SELECT *, CAST(floor((rn - 1) * 100 / n) AS BIGINT) AS bkt
          FROM x),
    m AS (SELECT event_type, bkt,
                 CAST(sum(rn) AS DOUBLE) / count(*) AS mx,
                 CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                   AS my
          FROM b GROUP BY event_type, bkt),
    nbr AS (SELECT event_type, bkt,
                   lag(mx) OVER wb AS lx, lag(my) OVER wb AS ly,
                   lead(mx) OVER wb AS rx, lead(my) OVER wb AS ry
            FROM m WINDOW wb AS (PARTITION BY event_type ORDER BY bkt)),
    j AS (SELECT b.*, nbr.lx, nbr.ly, nbr.rx, nbr.ry
          FROM b JOIN nbr USING (event_type, bkt)),
    interior AS (
      SELECT event_type, bkt, t, v, rn,
             abs((lx - rx) * (v - ly)
                 - (lx - CAST(rn AS DOUBLE)) * (ry - ly)) AS area
      FROM j WHERE lx IS NOT NULL AND rx IS NOT NULL),
    pick AS (SELECT *, row_number() OVER (PARTITION BY event_type, bkt
                                          ORDER BY area DESC, rn ASC) AS pk
             FROM interior)
    SELECT event_type, bkt AS bucket, t AS ts_ns, v AS value
    FROM pick WHERE pk = 1
    UNION ALL
    SELECT event_type, bkt AS bucket, t AS ts_ns, v AS value
    FROM j WHERE (lx IS NULL AND rn = 1) OR (rx IS NULL AND rn = n)
    """,
)
def ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lttb_downsample(): Largest-Triangle-Three-Buckets to ~100
    points per series (Steinarsson 2013) with fixed bucket-mean
    anchors — the parallelizable LTTB variant (classic LTTB's
    previously-selected-point anchor is inherently serial). X
    coordinates are per-series rank indices, never raw ns epochs
    (ns exceeds 2^53 where double x-math loses exactness). Both
    engines run the identical balanced-bucket, mean-anchor, argmax
    geometry, so the selected points hash-match."""
    t = load_tables(spark, sf_dir)
    return ts_ops.lttb_downsample(
        _ns_events(t), n_out=100, series_cols=("event_type",)
    )


@_q(
    "dialect_agg_expr",
    """
    SELECT user_id AS uid,
           CAST(sum(event_id) % 97 AS BIGINT) AS eid_mod,
           CAST(sum(event_id) AS DOUBLE) / count(*) AS mean_eid,
           round(min(value) + max(value), 6) AS minmax_sum
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def dialect_agg_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation computed expressions through the dialect front
    (round 13): arithmetic OVER aggregate calls — ``sum(a)/count(*)``
    ratios, ``sum(x) % m`` checksums, ``round(min+max)`` — the ANSI
    expressions-over-aggregates surface the reference's TiDB grammar
    accepts before dropping the statement (query/parser/parser.go:
    25-45). All aggregate refs land inside the ONE partial+final hash
    aggregate (matching select entries reused, the rest as hidden
    columns — the HAVING machinery); the arithmetic is a plain
    Catalyst projection over the aggregated row, so the plan shape is
    identical to the same query without the expressions.

    FP discipline: integer sums are exact (bigint), the ratio is ONE
    IEEE division of two exact integers (both < 2^53), and the
    min/max operands are actual data elements — bit-exact on both
    engines; no decimal fencing needed."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT purchase.user_id AS uid, "
        "sum(purchase.event_id) % 97 AS eid_mod, "
        "sum(purchase.event_id) / count(*) AS mean_eid, "
        "round(min(purchase) + max(purchase), 6) AS minmax_sum "
        "FROM boost.events GROUP BY purchase.user_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_arg_minmax",
    """
    SELECT user_id AS uid,
           max_by(value, event_id) AS v_last,
           min_by(value, event_id) AS v_first,
           max_by(value * 2.0, event_id) AS v2_last,
           max_by(value, event_id) FILTER (WHERE event_id % 2 = 0)
             AS v_last_even
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def dialect_arg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-argument argmax aggregates through the dialect front:
    ``max_by(x, y)`` / ``min_by(x, y)`` (DuckDB/ClickHouse spell them
    arg_max/arg_min — both spellings parse) return the x of the row
    with the extremal y. The reference's TiDB grammar accepts the
    calls before dropping the statement (query/parser/parser.go:
    25-45); here they lower to Spark's NATIVE max_by/min_by inside
    the one partial+final hash aggregate — O(1) per-group state, vs
    the row_number()=1 window form which pays a per-group sort.
    Determinism discipline: every order operand is the UNIQUE
    event_id (argmax ties are engine-unspecified everywhere), value
    doubles pass through unrounded (the selected element is never
    interpolated), and FILTER composes by nulling the order operand
    (rows with NULL y are ignored by the aggregate on both
    engines)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT purchase.user_id AS uid, "
        "max_by(purchase, purchase.event_id) AS v_last, "
        "arg_min(purchase, purchase.event_id) AS v_first, "
        "max_by(purchase * 2.0, purchase.event_id) AS v2_last, "
        "max_by(purchase, purchase.event_id) FILTER "
        "(WHERE purchase.event_id % 2 = 0) AS v_last_even "
        "FROM boost.events GROUP BY purchase.user_id",
        EVENTS_BINDING,
    )


@_q(
    "dialect_stats_agg",
    """
    SELECT user_id AS uid, count(value) AS n,
           round(stddev_samp(value), 3) AS sd,
           round(stddev_pop(value), 3) AS sdp,
           round(var_samp(value), 3) AS vs,
           round(var_pop(value), 3) AS vp
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def dialect_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates through the dialect front (round 13):
    stddev/stddev_samp/stddev_pop and variance/var_samp/var_pop
    (ANSI _samp defaults), lowered to Spark's native Welford-style
    aggregates inside the shared partial+final hash aggregate; the
    two-arg corr/covar_samp/covar_pop family parses and lowers the
    same way (pytest-certified parity vs F.corr — two-arg calls stay
    out of the cross-engine oracle because they cannot take the
    rounding fence through the expression grammar). Engines
    accumulate central moments in different orders, so the oracle
    pairing rounds 3dp through the post-aggregation expression
    machinery (round(stddev_samp(x), 3) compiles to one hidden
    aggregate + a post-projection; the r13 layout-invariance sweep
    measured Welford reorder noise at ~1e-6 on variances of magnitude
    ~3e3, so a 6dp fence was one reorder away from a flipped hash —
    3dp leaves 500x margin)."""
    load_tables(spark, sf_dir)
    return sugar.query(
        spark,
        "SELECT purchase.user_id AS uid, count(purchase) AS n, "
        "round(stddev_samp(purchase), 3) AS sd, "
        "round(stddev_pop(purchase), 3) AS sdp, "
        "round(var_samp(purchase), 3) AS vs, "
        "round(var_pop(purchase), 3) AS vp "
        "FROM boost.events GROUP BY purchase.user_id",
        EVENTS_BINDING,
    )


# LLM-data-pipeline entries register themselves via _q on import
from boostdb_spark import suite_llm  # noqa: E402,F401  (registry side effect)
