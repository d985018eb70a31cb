"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Each query is fully materialized through the noop sink (executes the
whole physical plan, including exchanges, without collect() driver
funneling — the honest number for scan->shuffle->agg pipelines).

HEADLINE is GENERATED from the suite registry (window order first, then
registration order) minus the documented EXCLUDE list, so a newly
registered entry cannot silently skip the bench. Four streaming
drains (file-source micro-batches over the same SF events data,
availableNow trigger) ride along under ``stream_*`` keys so the
Structured Streaming surface has throughput regression signal too.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from boostdb_spark import suite  # noqa: E402
from boostdb_spark.session import get_spark  # noqa: E402

#: registered queries deliberately NOT benched, with the reason pinned.
#: (empty today: every registry entry runs; keep reasons here if that
#: ever changes so the bench-covers-registry invariant stays auditable)
EXCLUDE: dict[str, str] = {}

#: ingest-time work amortized before timing: JVM/codegen cold start,
#: the one-time Python-worker pool spawn, and the write-once layouts
#: (bucketed / z-ordered / series-family) — production pipelines pay
#: these once per cluster or per ingest, not per query
WARMUP = [
    "flagship_series_scan",
    "udf_vectorized",
    "join_bucketed_colocated",
    "scan_zordered",
    "seriesfamily_roundtrip",
    "multimodal_binaryfile",    # one-file-per-blob media dir write
    "scan_bloom_pointlookup",   # bloom-layout rewrite of events
    "file_formats_roundtrip",   # CSV+ORC copies of events
    "stream_batch_parity",      # streaming landing-dir write
    "stream_dedup_parity",      # doubled-events landing write
    "stream_ewma_parity",       # time-split landing (utime-stamped order)
    "stream_ingest_parity",     # checkpointed streaming family write
    "stream_session_parity",    # time-split landing (utime-stamped order)
    "stream_sliding_parity",    # time-split landing (utime-stamped order)
    "stream_join_parity",       # time-split landing (utime-stamped order)
    "stream_upsert_parity",     # unordered upsert landing write
    "dedup_incremental",        # corpus dedup-index materialization
    "ann_ivf_topk",             # k-means training + inverted-file write
    "ann_pq_topk",              # PQ codebook training + code-table write
    "ann_append_certified",     # append-maintenance layout build
    "emb_pca_certified",        # power-iteration component training
    "txt_bpe_tokenize",         # 10%-sample BPE merge-table training
    #                             (shared by tokenize + roundtrip; was
    #                             amortized by r6's window order, which
    #                             ran roundtrip early — the r7 rotation
    #                             moved it below the fold)
    "scan_paged_export",        # per-slice page-directory export
]


def _headline() -> list[str]:
    names = [n for n in suite.spark_queries() if n not in EXCLUDE]
    # CORE tier (r11-verdict ask #8): the registry is ~290 entries and
    # the full-suite wall grows ~20 entries/round — a committed core
    # record (the 50-entry driver window, which already spans every
    # operator family plus the round's new surface) keeps a
    # round-over-round comparable number as the full suite grows. The
    # driver's own run stays FULL (it sets no env); the core record is
    # produced locally per round alongside the full one:
    #   SPARK_GRAFT_BENCH_TIER=core python bench.py
    if os.environ.get("SPARK_GRAFT_BENCH_TIER") == "core":
        window = set(suite._WINDOW)
        return [n for n in names if n in window]
    return names


def _stream_benchmarks(spark, sf_dir: str) -> tuple[dict[str, float], dict]:
    """Structured Streaming throughput: the SF events table replayed as
    an 8-file landing directory through availableNow micro-batches of
    2 files each, every drain run by ``streaming.drain.drain`` into the
    noop sink (RocksDB state store, state partitions sized to the
    replay, session config restored even when a drain fails).

    - stream_passthrough_floor: no operator state — the machinery floor.
    - stream_sliding_agg: watermark + overlapping event-time windows
      (streaming/windows.py) — the windowed-state path. It runs 4 or
      5 batches on the same code. The 5th reads 0 rows: the engine
      adds it when the last data batch raised the max event time, so
      the 2-hour watermark moved past windows still held in state, and
      it emits those windows (append mode) — part of the result, so
      it keeps running. Whether the last batch holds the latest event
      depends on which landing files it gets; files replay in write
      mtime order, which varies from run to run.
    - stream_stateful_ewma: applyInPandasWithState running EWMA
      (streaming/stateful.py) — the arbitrary-state path.
    - stream_stream_join: watermarked interval inner join — the
      stream-stream state path.

    Landing-dir write is ingest, excluded from the timing; each drain
    is timed start->drain over the same 4-batch replay, and its
    per-batch walls and input rows go to the record.
    """
    from pyspark.sql import functions as F

    from boostdb_spark.session import load_tables
    from boostdb_spark.streaming.drain import drain, landing_schema
    from boostdb_spark.streaming.stateful import streaming_ewma
    from boostdb_spark.streaming.windows import sliding_agg

    ev = suite._ts_events(load_tables(spark, sf_dir))
    work = tempfile.mkdtemp(prefix="boost_bench_stream_")
    landing = os.path.join(work, "landing")
    (
        ev.select("event_type", "ts", "value", "event_id", "user_id")
        .repartition(8)
        .write.mode("overwrite")
        .parquet(landing)
    )
    schema = landing_schema(spark, landing)
    times: dict[str, float] = {}
    detail: dict[str, dict] = {}

    def stream():
        # trigger sized to ~2 landing files per micro-batch: an
        # availableNow catch-up IS supposed to batch up — 1-file
        # triggers measured 8x the per-batch machinery (source listing
        # + every state partition committing every batch) on the same
        # data; the per-batch decomposition keeps the machinery
        # attributable either way
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(landing)
        )

    def run(name: str, build, output_mode: str, no_data_batches=True):
        detail[name] = drain(
            build(stream()),
            os.path.join(work, f"ckpt_{name}"),
            fmt="noop",
            output_mode=output_mode,
            landing=landing,
            no_data_batches=no_data_batches,
        )
        times[name] = detail[name]["wall_s"]
        print(
            f"  {name}: {times[name]}s {detail[name]}",
            file=sys.stderr,
            flush=True,
        )

    def stream_stream_join(src):
        # watermarked interval join: purchases enriched with the errors
        # that follow within 1h
        purchases = src.filter(F.col("event_type") == "purchase").select(
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
        return purchases.withWatermark("p_ts", "0 seconds").join(
            errors.withWatermark("e_ts", "0 seconds"), cond
        )

    try:
        # machinery floor: an aggregation-free passthrough drain over the
        # SAME landing replay — its wall is pure micro-batch scheduling +
        # source listing + sink cost, zero operator state; subtract it
        # from the stateful drains to see the data-dependent part
        run("stream_passthrough_floor", lambda src: src, "append")
        run(
            "stream_sliding_agg",
            lambda src: sliding_agg(
                src,
                "4 hours",
                "1 hour",
                ["event_type"],
                [
                    F.count(F.lit(1)).alias("n"),
                    F.min("value").alias("vmin"),
                    F.max("value").alias("vmax"),
                ],
                watermark="2 hours",
            ),
            "append",
        )
        run(
            "stream_stateful_ewma",
            lambda src: streaming_ewma(
                src,
                alpha=0.25,
                key_cols=("event_type",),
                order_extra=("event_id",),
            ),
            "update",
        )
        run(
            "stream_stream_join", stream_stream_join, "append",
            no_data_batches=False,  # inner join: trailing batch emits 0 rows
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return times, detail


def _calibration(spark) -> dict:
    """Machine-speed canary: FIXED work independent of any suite code,
    so two bench records taken on different hosts/days are comparable
    speed-normalized. The r6 driver bench jumped 41% with per-entry
    inflation uniform across entries (including the zero-state
    streaming floor) — environmental, but unprovable without a fixed
    yardstick in the record. jvm = one codegen range-agg across all
    cores (JVM+scheduler speed); py = a single-thread Python loop
    (interpreter/CPU speed); shuffle = a fixed 2M-row exchange +
    hash-agg (disk/shuffle path)."""
    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr(
        "sum(id * 7 % 1000)"
    ).collect()
    jvm = time.perf_counter() - t0
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i * 31 % 97
    py = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, 32).selectExpr(
        "id % 10000 AS k", "id AS v"
    ).groupBy("k").sum("v").selectExpr("sum(`sum(v)`)").collect()
    sh = time.perf_counter() - t0
    return {
        "jvm_range_sum": round(jvm, 3),
        "py_loop": round(py, 3),
        "shuffle_2m": round(sh, 3),
    }


def _posture(spark) -> dict:
    """Broadcast/checkpoint posture fingerprint (r12-verdict ask #5):
    the no_broadcast marker degrades silently to merge pins in a
    foreign session that still allows static estimate-based broadcasts
    — this triple makes a misconfigured or foreign-session run
    distinguishable from a plan regression in the record alone."""
    from boostdb_spark.operators.common import CORPUS_CHECKPOINT_LEVEL

    def _get(key):
        try:
            return spark.conf.get(key)
        except Exception:
            return None

    return {
        "static_broadcast": _get("spark.sql.autoBroadcastJoinThreshold"),
        "aqe_broadcast": _get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold"
        ),
        "aqe_enabled": _get("spark.sql.adaptive.enabled"),
        "checkpoint_class": CORPUS_CHECKPOINT_LEVEL,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="boostdb-bench")
    registry = suite.spark_queries()

    times: dict[str, float] = {}
    gc_ms: dict[str, int] = {}
    # SPARK_GRAFT_BENCH_ONLY=stream: run JUST the streaming drains in a
    # fresh session — the isolated (no suite JVM pressure) number that
    # BASELINE.md records next to the in-suite one
    stream_only = os.environ.get("SPARK_GRAFT_BENCH_ONLY") == "stream"
    # SPARK_GRAFT_BENCH_ONLY=ann: the isolated ANN decomposition —
    # index build (k-means + PQ training + layout writes, INGEST work)
    # timed separately from each probe entry, so any suite-bench ANN
    # number is explainable from this record alone (r2/r4 saw
    # unexplained ANN wall swings when training ran inside the timed
    # entries under suite JVM pressure)
    if os.environ.get("SPARK_GRAFT_BENCH_ONLY") == "ann":
        from boostdb_spark import suite_llm

        t0 = time.perf_counter()
        suite_llm._ann_index(spark, sf_dir)
        times["ann_index_build"] = round(time.perf_counter() - t0, 3)
        for name in (
            "ann_ivf_topk", "ann_pq_topk", "ann_lsh_topk",
            "ann_recall_certified",
        ):
            fn = registry[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            times[name] = round(time.perf_counter() - t0, 3)
            print(f"  {name}: {times[name]}s", file=sys.stderr, flush=True)
        print(
            json.dumps(
                {
                    "queries": times,
                    "warmup_amortized": [],
                    "metric": "ann_decomposition_seconds",
                    "unit": "sec",
                    "n_queries": len(times),
                    "value": round(sum(times.values()), 3),
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                }
            )
        )
        return
    if not stream_only:
        headline = _headline()
        missing = [n for n in headline if n not in registry]
        assert not missing, f"HEADLINE out of sync with registry: {missing}"

        for name in WARMUP:
            registry[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()

        # per-entry GC attribution (r8-verdict ask #6: txt_ngram_novelty
        # ran 4.7x its local record in the driver with no decomposition
        # to prove the suspected GC/heap placement): JVM-wide collector
        # time is sampled around every timed entry, so any future
        # driver-vs-local outlier carries its own explanation in the
        # record — a large gc_ms says the wall was collector pressure,
        # not the entry's plan. Driver-side jconsole-style beans; ~0 cost.
        _mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory

        def _jvm_gc_ms() -> int:
            return sum(
                b.getCollectionTime()
                for b in _mx.getGarbageCollectorMXBeans()
            )

        for i, name in enumerate(headline):
            if i % 25 == 24:
                # untimed old-gen relief every 25 entries: 200+ plans
                # in one JVM accumulate shuffle/broadcast/checkpoint
                # tenure, and late registration-order entries were
                # measuring GC pressure instead of their own plan
                # (pipeline_hybrid_rrf: 8.4 s in-suite vs 1.3 s
                # isolated on identical code+data). The pause is
                # outside every timer, so entries are measured from a
                # comparable heap state.
                spark.sparkContext._jvm.System.gc()
            fn = registry[name]
            g0 = _jvm_gc_ms()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            times[name] = round(time.perf_counter() - t0, 3)
            gc_ms[name] = _jvm_gc_ms() - g0
            print(f"  {name}: {times[name]}s", file=sys.stderr, flush=True)

    # isolated re-run probes (r9-verdict ask #4: the driver clocked
    # agg_approx_count_distinct at 6.6x its local record with only
    # 575 ms attributable to GC, leaving the gap environment-unproven).
    # For the entries with a history of driver-vs-local divergence on
    # untouched code, time a SECOND run from a comparable heap state
    # (System.gc() first, outside the timer): `isolated` ~= the entry's
    # in-suite time says the plan is the cost; `isolated` << in-suite
    # says the first-run wall was JVM state (heap tenure / JIT /
    # inherited AQE state), not the plan — the record now carries that
    # proof wherever it runs.
    isolated: dict[str, float] = {}
    if not stream_only:
        # DYNAMIC list (r12-verdict ask #1b): the r11 hardcoded four
        # kept re-probing stale history while the round's actual #1
        # outlier (ann_append_certified, 62 s, 14.9x its record) went
        # unprobed. The list is now the TOP-5 BY WALL of the current
        # run — whatever the anomaly is, it self-decomposes in the
        # same record — plus the two entries with a documented history
        # of JVM-state sensitivity (fixpoint job storms, pair-join IO).
        top_by_wall = [
            n for n, _ in
            sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:5]
        ]
        probe = list(dict.fromkeys(
            top_by_wall + ["dialect_recursive_cte", "dedup_semantic"]
        ))
        for name in probe:
            spark.sparkContext._jvm.System.gc()
            fn = registry[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            isolated[name] = round(time.perf_counter() - t0, 3)
            print(
                f"  isolated {name}: {isolated[name]}s",
                file=sys.stderr, flush=True,
            )

    # dedup_semantic per-stage decomposition (r11-verdict ask #2: the
    # entry read 62.5 s in-suite on the driver vs 11.4 s isolated vs
    # 6.6 s local, and the record could not say WHERE). Three stage
    # walls from a comparable heap, none added to `times` (they re-run
    # work the timed entry already paid):
    #   idx_centroids_s  — fetching the session ANN index (MUST be ~0:
    #                      proves the k-means/PQ train was amortized in
    #                      WARMUP on this entry's path, not paid here)
    #   assign_dedup_s   — semantic_dedup alone: corpus->centroid
    #                      assignment + within-cluster domination
    #   full_entry_s     — the whole certified entry (dedup + the
    #                      certificate pair join + output join); the
    #                      certificate increment is full - assign_dedup
    # A driver wall >> full_entry_s with idx_centroids_s ~ 0 is
    # environment, attributable from the committed record alone.
    semdedup_stage_s: dict[str, float] = {}
    if not stream_only:
        # best-effort like every other diagnostic block: these stages
        # re-run work the timed entries already paid, so a failure here
        # must degrade to an error marker, never abort main() after all
        # timed queries but before the record is written (ADVICE r12)
        try:
            from boostdb_spark import suite_llm
            from boostdb_spark.operators import dedup as _dd
            from boostdb_spark.session import load_tables as _lt

            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            _cents = suite_llm._ann_index(spark, sf_dir)["centroids"]
            semdedup_stage_s["idx_centroids_s"] = round(
                time.perf_counter() - t0, 3
            )
            t0 = time.perf_counter()
            _dd.semantic_dedup(
                _lt(spark, sf_dir)["embeddings"], tau=0.4, centroids=_cents
            ).write.mode("overwrite").format("noop").save()
            semdedup_stage_s["assign_dedup_s"] = round(
                time.perf_counter() - t0, 3
            )
            t0 = time.perf_counter()
            registry["dedup_semantic"](spark, sf_dir).write.mode(
                "overwrite"
            ).format("noop").save()
            semdedup_stage_s["full_entry_s"] = round(
                time.perf_counter() - t0, 3
            )
            print(
                f"  semdedup stages: {semdedup_stage_s}",
                file=sys.stderr, flush=True,
            )
        except Exception as exc:  # pragma: no cover - diagnostic only
            semdedup_stage_s["error"] = repr(exc)[:200]
            print(
                f"  semdedup stages FAILED (record continues): {exc!r}",
                file=sys.stderr, flush=True,
            )

    # dedup_keep_best per-stage decomposition (r14-verdict ask #2: the
    # entry was the only flat top-20 member and nobody had split its
    # wall into LSH-pair feed vs label propagation vs the keep-policy
    # join+window). Three stage walls from a comparable heap, none
    # added to `times` (they re-run work the timed entry already paid):
    #   lsh_pairs_s   — minhash_lsh_pairs alone (candidate gen + exact
    #                   Jaccard verify), the shared feed
    #   groups_s      — + dedup_groups label propagation (the
    #                   iterative min-label loop; increment over
    #                   lsh_pairs_s is the propagation cost)
    #   full_entry_s  — the whole entry (adds the corpus left join +
    #                   keep-policy window)
    keepbest_stage_s: dict[str, float] = {}
    if not stream_only:
        try:
            from boostdb_spark.operators import dedup as _dd2
            from boostdb_spark.session import load_tables as _lt2

            _docs = _lt2(spark, sf_dir)["documents"]

            def _kb_pairs():
                return _dd2.minhash_lsh_pairs(
                    _docs, threshold=0.8, num_hashes=48, bands=16, n=3
                )

            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            _kb_pairs().write.mode("overwrite").format("noop").save()
            keepbest_stage_s["lsh_pairs_s"] = round(
                time.perf_counter() - t0, 3
            )
            t0 = time.perf_counter()
            _dd2.dedup_groups(_kb_pairs()).write.mode("overwrite").format(
                "noop"
            ).save()
            keepbest_stage_s["groups_s"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            registry["dedup_keep_best"](spark, sf_dir).write.mode(
                "overwrite"
            ).format("noop").save()
            keepbest_stage_s["full_entry_s"] = round(
                time.perf_counter() - t0, 3
            )
            print(
                f"  keep_best stages: {keepbest_stage_s}",
                file=sys.stderr, flush=True,
            )
        except Exception as exc:  # pragma: no cover - diagnostic only
            keepbest_stage_s["error"] = repr(exc)[:200]
            print(
                f"  keep_best stages FAILED (record continues): {exc!r}",
                file=sys.stderr, flush=True,
            )

    stream_times, stream_detail = _stream_benchmarks(spark, sf_dir)
    times.update(stream_times)
    # suite entries that drain multiple internal queries (rollup parity's
    # two sink variants) publish their own per-drain decomposition —
    # merge it so the record explains those walls too (r10 verdict #4)
    stream_detail.update(suite.STREAM_DRAIN_DETAIL)

    total = round(sum(times.values()), 3)
    # The driver records only the LAST ~2000 chars of this line, so the
    # record is ordered to survive front-truncation: the big per-entry
    # map goes first and the self-explaining summary goes last — the 20
    # slowest entries (`top20`, the hotspot digest that made the r6
    # 41% wall jump unattributable when it lived only in the truncated
    # head), then total/sf. The COMPLETE per-entry record is also
    # written to $SPARK_GRAFT_BENCH_OUT (default BENCH_LOCAL.json,
    # committed per round as BENCH_LOCAL_r{N}.json) so any driver round
    # can be diffed per-entry against a same-code local run.
    top20 = dict(
        sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:20]
    )
    # GC attribution digest: the 10 entries that paid the most
    # collector time while timed (full map in the BENCH_LOCAL file via
    # gc_ms; the digest rides the tail of the truncation-surviving
    # stdout line like top20 does)
    gc_top10 = dict(
        sorted(gc_ms.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    # one-scalar streaming diagnostics that MUST survive the driver's
    # tail truncation (r11-verdict ask #3): the zero-operator-state
    # passthrough floor separates IO-poisoned-host rounds from plan
    # regressions, and the total state-commit time attributes the
    # stateful drains' walls — both were being cut from the recorded
    # tail in r11, which is why the streaming cohort stayed "weak".
    stream_commit_total_ms = sum(
        d.get("state_commit_ms", 0)
        for d in stream_detail.values()
        if isinstance(d, dict)
    )
    # r13-verdict ask #2: the two stream-stream JOIN parities were the
    # one cohort whose wall couldn't be split into commit IO vs
    # compute from the driver-retained tail alone (r13 saw 12->52 s
    # with only totals recorded). Keep their per-drain decomposition
    # (few batches, so batch_ms is a handful of ints) among the
    # truncation-surviving small scalars.
    stream_join_detail = {
        k: {
            f: v[f]
            for f in (
                "wall_s", "n_batches", "batch_ms",
                "state_commit_ms", "input_rows",
            )
            if f in v
        }
        for k, v in stream_detail.items()
        if isinstance(v, dict) and "join_parity" in k
    }
    # Key order is the truncation contract: the driver keeps only the
    # LAST ~2000 chars of this line, so big maps go first and the
    # self-explaining diagnostics go last — top20/gc_top10 lead the
    # tail (truncation bites their head first), then the small scalars
    # that must always survive: calibration, isolated reruns, the
    # semdedup stage decomposition, the streaming floor + commit
    # total, and finally value/sf.
    record = {
        "queries": times,
        "gc_ms": gc_ms,
        "stream_detail": stream_detail,
        "warmup_amortized": [] if stream_only else WARMUP,
        "metric": (
            "core_suite_wall_seconds"
            if os.environ.get("SPARK_GRAFT_BENCH_TIER") == "core"
            else "suite_wall_seconds"
        ),
        "unit": "sec",
        "n_queries": len(times),
        "top20": top20,
        "gc_top10": gc_top10,
        "calibration": _calibration(spark),
        "posture": _posture(spark),
        "isolated_rerun": isolated,
        "semdedup_stage_s": semdedup_stage_s,
        "keepbest_stage_s": keepbest_stage_s,
        "stream_floor_s": times.get("stream_passthrough_floor"),
        "stream_commit_total_ms": stream_commit_total_ms,
        "stream_join_detail": stream_join_detail,
        "value": total,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    default_out = (
        "BENCH_LOCAL_CORE.json"
        if os.environ.get("SPARK_GRAFT_BENCH_TIER") == "core"
        else "BENCH_LOCAL.json"
    )
    out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", str(_REPO / default_out)
    )
    try:
        with open(out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as exc:  # read-only checkout: the stdout line stands
        print(f"  local record not written: {exc}", file=sys.stderr)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
