"""ingest_stream: the write path, measured beside the reads.

One closed-loop client repeats an ingest round into fresh families; a
round is one closed-loop operation, and its stages are:

1. ``append``: four seeded day-batches through ``SeriesFamily.write``;
2. ``stream_write``: a seeded landing directory replayed into a second
   family through ``streaming.ingest.stream_write`` (``availableNow``,
   4 files per micro-batch);
3. ``sliding_agg`` and ``ewma``: ``windows.sliding_agg`` and
   ``stateful.streaming_ewma`` drains over the same landing directory;
4. ``compact`` and ``read_back``: ``SeriesFamily.compact`` of the
   appended family, then a count-and-checksum read of it.

It is a catch-up drain at a fixed input size, not an open-loop arrival
stream. Checks: the appended family's read-back against DuckDB over the
day-batch files, the streamed family against the landing files, and
both aggregate drains against their batch equivalents.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from boostdb_spark.operators.timeseries import ewma_final
from boostdb_spark.sources.seriesfamily import SeriesFamily
from boostdb_spark.streaming.ingest import file_stream, stream_write
from boostdb_spark.streaming.stateful import streaming_ewma
from boostdb_spark.streaming.windows import sliding_agg
from boostdb_spark.verify import compare
from workloads import Workload, store_stats

SERIES = 16
HOSTS = 10_000
ZIPF_A = 1.2
DAY_ROWS = 40_000
APPEND_DAYS = 4
LANDING_ROWS = 120_000
LANDING_FILES = 8
FILES_PER_TRIGGER = 4
ALPHA = 0.25
PRIME = 1_000_003

STAGES = (
    *(f"append{d}" for d in range(APPEND_DAYS)),
    "stream_write", "sliding_agg", "ewma", "compact", "read_back",
)


def checksum(df, ts_col: str = "ts"):
    """Order-free fingerprint of a datapoint frame; exact because values
    sit on a 1/1024 grid."""
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("total"),
        F.min(ts_col).alias("t_min"),
        F.max(ts_col).alias("t_max"),
        F.sum(F.col(ts_col) % PRIME).alias("t_mod"),
    )


ORACLE_CHECKSUM = (
    "SELECT count(*) AS n, sum(value) AS total, min(ts) AS t_min, "
    "max(ts) AS t_max, CAST(sum(ts % {p}) AS BIGINT) AS t_mod "
    "FROM read_parquet([{files}])"
)


class IngestStream(Workload):
    name = "ingest_stream"
    kinds = ("ingest_round",)

    def __init__(self, *a):
        super().__init__(*a)
        self.cycles: list[dict] = []
        self.progress: list[dict] = []
        self.stage_walls: list[tuple[str, float]] = []

    # -------------------------------------------------------------- set-up
    def setup(self, k: int) -> None:
        d = self.fresh(f"ingest_in{k}")
        if k:
            self.fresh(f"ingest_in{k - 1}")
        rng = self.rng(0)
        self.day_files = []
        self.user_bytes = 0
        for day in range(APPEND_DAYS):
            t = gen.datapoints(rng, DAY_ROWS, SERIES, 1, HOSTS, ZIPF_A, first_day=day)
            self.day_files.append(os.path.join(d, f"day{day}.parquet"))
            pq.write_table(t, self.day_files[-1])
            self.user_bytes += gen.user_bytes(t)
        land = gen.datapoints(rng, LANDING_ROWS, SERIES, 2, HOSTS, ZIPF_A,
                              first_day=APPEND_DAYS)
        self.landing = os.path.join(d, "landing")
        gen.write_landing(gen.as_timestamp(land), self.landing, LANDING_FILES)
        self.landing_rows = land.num_rows
        self.properties = {
            "series": SERIES,
            "host_values": HOSTS,
            "host_zipf_a": ZIPF_A,
            "append_rows_per_day": DAY_ROWS,
            "append_days_per_round": APPEND_DAYS,
            "landing_rows": self.landing_rows,
            "landing_files": LANDING_FILES,
            "files_per_trigger": FILES_PER_TRIGGER,
            "stages_per_round": list(STAGES),
        }

    # ---------------------------------------------------------- operations
    def ops(self):
        c = 0
        while True:
            d = self.fresh(f"round{c}")
            cyc = {"dir": d, "name": f"r{c}", "done": set(), "results": {},
                   "family": SeriesFamily(self.spark, "bench", f"ingest{c}",
                                          os.path.join(d, "store")),
                   "stream_family": SeriesFamily(self.spark, "bench", f"stream{c}",
                                                 os.path.join(d, "store"))}
            self.cycles.append(cyc)
            # rows a round takes in: the appended days and the landing files
            yield "ingest_round", self._round(cyc), DAY_ROWS * APPEND_DAYS + self.landing_rows
            c += 1

    def _round(self, cyc: dict):
        def run():
            for stage in STAGES:
                if not stage.startswith("append"):
                    self.pause()
                t0 = time.perf_counter()
                self._stage(stage, cyc)
                self.stage_walls.append((stage, time.perf_counter() - t0))
                cyc["done"].add(stage)

        return run

    def _drain(self, kind: str, query) -> None:
        self.tracer.add_group(str(query.runId))
        query.awaitTermination()
        self.progress.append({"kind": kind, "progress": list(query.recentProgress)})

    def _stage(self, kind: str, cyc: dict) -> None:
        tr, spark = self.tracer, self.spark
        if kind.startswith("append"):
            day = int(kind[len("append"):])
            with tr.span("sources.write", "sources"):
                cyc["family"].write(spark.read.parquet(self.day_files[day]))
        elif kind == "stream_write":
            with tr.span("streaming.stream_write", "streaming"):
                src = file_stream(spark, self.landing,
                                  max_files_per_trigger=FILES_PER_TRIGGER)
                q = stream_write(cyc["stream_family"], src,
                                 os.path.join(cyc["dir"], "ckpt_write"))
                self._drain(kind, q)
        elif kind in ("sliding_agg", "ewma"):
            with tr.span(f"streaming.{kind}", "streaming"):
                src = file_stream(spark, self.landing,
                                  max_files_per_trigger=FILES_PER_TRIGGER)
                out, mode = self._stream_plan(kind, src)
                q = (out.writeStream.format("memory")
                     .queryName(f"pb_{kind}_{cyc['name']}")
                     .outputMode(mode)
                     .option("checkpointLocation",
                             os.path.join(cyc["dir"], f"ckpt_{kind}"))
                     .trigger(availableNow=True).start())
                self._drain(kind, q)
        elif kind == "compact":
            with tr.span("sources.compact", "sources"):
                cyc["family"].compact(files_per_day=1)
        else:  # read_back
            cyc["results"]["read_back"] = self.collect(checksum(cyc["family"].read()))

    @staticmethod
    def _stream_plan(kind: str, src):
        """The aggregate drain and its sink output mode; the same call on a
        batch frame is the check's reference."""
        if kind == "sliding_agg":
            return sliding_agg(
                src, "4 hours", "1 hour", ["series"],
                [F.count(F.lit(1)).alias("n"), F.min("value").alias("lo"),
                 F.max("value").alias("hi"), F.sum("value").alias("total")],
                watermark="2 hours",
            ), "complete"
        return streaming_ewma(src, alpha=ALPHA, key_cols=("series",)), "update"

    # -------------------------------------------------------------- checks
    def check(self) -> list[str]:
        spark = self.spark
        con = duckdb.connect()
        failures = []
        for cyc in self.cycles:
            c, done = cyc["name"], cyc["done"]
            days = [d for d in range(APPEND_DAYS) if f"append{d}" in done]
            if days:
                files = ", ".join(f"'{self.day_files[d]}'" for d in days)
                want = con.execute(ORACLE_CHECKSUM.format(p=PRIME, files=files)).df()
                got = checksum(cyc["family"].read()).toPandas()
                failures += [f"round {c} family: {p}" for p in compare(got, want)[:3]]
                if "read_back" in cyc["results"]:
                    rb = pd.DataFrame([r.asDict() for r in cyc["results"]["read_back"]])
                    failures += [f"round {c} read_back: {p}"
                                 for p in compare(rb, want)[:3]]
            landing = spark.read.parquet(self.landing)
            if "stream_write" in done:
                got = checksum(cyc["stream_family"].read().select("ts", "value")
                               .withColumn("ts", F.unix_micros("ts")))
                want = checksum(landing.withColumn("ts", F.unix_micros("ts")))
                failures += [f"round {c} stream_write: {p}"
                             for p in compare(got.toPandas(), want.toPandas())[:3]]
            if "sliding_agg" in done:
                got = spark.table(f"pb_sliding_agg_{c}").toPandas()
                want = self._stream_plan("sliding_agg", landing)[0].toPandas()
                failures += [f"round {c} sliding_agg: {p}" for p in compare(got, want)[:3]]
            if "ewma" in done:
                got = (spark.table(f"pb_ewma_{c}").groupBy("series")
                       .agg(F.max_by("ewma", "n").alias("ewma")).toPandas())
                want = ewma_final(landing, ALPHA).toPandas()
                failures += [f"round {c} ewma: {p}" for p in compare(got, want)[:3]]
        con.close()
        self.properties["rounds"] = len(self.cycles)
        return failures

    # ------------------------------------------------------------- figures
    def _stream_layer(self) -> dict[str, float]:
        out = {"batches": [], "planning": [], "add": [], "commit": [],
               "state_commit": [], "state_rows": []}
        for rec in self.progress:
            prog = rec["progress"]
            dur = [p.get("durationMs") or {} for p in prog]
            out["batches"].append(len(prog))
            out["planning"].append(sum(d.get("queryPlanning", 0) for d in dur))
            out["add"].append(sum(d.get("addBatch", 0) for d in dur))
            out["commit"].append(sum(d.get("commitOffsets", 0) + d.get("walCommit", 0)
                                     for d in dur))
            ops = [so for p in prog for so in (p.get("stateOperators") or [])]
            out["state_commit"].append(sum(so.get("commitTimeMs", 0) for so in ops))
            if prog and prog[-1].get("stateOperators"):
                out["state_rows"].append(
                    sum(so.get("numRowsTotal", 0) for so in prog[-1]["stateOperators"])
                )
        return {k: statistics.fmean(v) if v else 0.0 for k, v in out.items()}

    def headline(self, samples, setup_s, rss_mb, failed_frac) -> dict:
        mix = self.mix([(k, w, True, 0) for k, w in self.stage_walls])
        append = [mix[k][0] for k in mix if k.startswith("append")]
        drains = [mix[k][0] for k in ("sliding_agg", "ewma") if k in mix]
        compacted = [c for c in self.cycles if "compact" in c["done"]]
        size = store_stats(compacted[-1]["family"].path)[1] if compacted else 0
        return {
            "ingest_rows_per_s": [DAY_ROWS * len(append) / sum(append), "1/s"],
            "stream_ingest_rows_per_s": [self.landing_rows / mix["stream_write"][0], "1/s"],
            "stream_agg_rows_per_s": [self.landing_rows * len(drains) / sum(drains), "1/s"],
            "bytes_stored_per_user_byte": [size / self.user_bytes, "ratio",
                                           "appended family after compact"],
            "query_p50_ms": [mix["read_back"][0] * 1e3, "ms", "read_back"],
            "setup_s": [setup_s, "s"],
            "peak_rss_mb": [rss_mb, "MB"],
            "failed_op_frac": [failed_frac, "ratio"],
        }

    def own_layer_metrics(self) -> dict[str, float]:
        s = self._stream_layer()
        files = size = 0
        compacted = [c for c in self.cycles if "compact" in c["done"]]
        if compacted:
            files, size = store_stats(compacted[-1]["family"].path)
        return {
            "sources.write_s": self.p50(self.span_ms("sources.write")) / 1e3,
            "sources.compact_s": self.p50(self.span_ms("sources.compact")) / 1e3,
            "sources.files_written": files,
            "sources.bytes_written": size,
            "sources.bytes_per_user_byte": size / self.user_bytes,
            "streaming.stream_write_s": self.p50(self.span_ms("streaming.stream_write")) / 1e3,
            "streaming.sliding_agg_s": self.p50(self.span_ms("streaming.sliding_agg")) / 1e3,
            "streaming.ewma_s": self.p50(self.span_ms("streaming.ewma")) / 1e3,
            "streaming.batches": s["batches"],
            "streaming.query_planning_ms": s["planning"],
            "streaming.add_batch_ms": s["add"],
            "streaming.commit_ms": s["commit"],
            "streaming.state_commit_ms": s["state_commit"],
            "streaming.state_rows": s["state_rows"],
        }
